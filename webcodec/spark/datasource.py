"""Python DataSource: ``spark.read.format("webcodec")`` / ``df.write.format("webcodec")``.

Reference parity (SURVEY.md §2.F): the ParquetFileReader/ParquetWriter entry
points re-expressed as a Spark 4 Python DataSource
(pyspark/sql/datasource.py:71). The read side implements ``pushFilters``
against manifest + page min/max statistics (reference RowGroupFilter /
StatisticsFilter, D2) and column pruning (D6) — pushdown is OPT-IN via
``.option("pushdown", "true")`` because of an upstream Spark 4.1 plan-cache
bug (see WebcodecPushdownReader); the write side uses the
two-phase ``commit``/``abort`` protocol (datasource.py:946) with per-task
lineage in the WriterCommitMessage — exactly-once snapshot commits.

Register once per session::

    from webcodec.spark.datasource import WebcodecDataSource
    spark.dataSource.register(WebcodecDataSource)

    df.write.format("webcodec").mode("append").option("path", d).save()
    spark.read.format("webcodec").option("path", d).load()
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringContains,
    StringEndsWith,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

_OPS = {
    EqualTo: "==",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


def _local_path(raw: str | None) -> str | None:
    """Normalize a path option: SQL (`CREATE TABLE ... USING webcodec`)
    hands the table location over as a `file:` URI, the Python API as a
    bare path."""
    if raw and raw.startswith("file:"):
        p = raw[len("file:") :]
        while p.startswith("//"):
            p = p[1:]
        return p
    return raw


def _json_opt(raw: str | None, default):
    """Parse a DataSource option that may be JSON (dict/list/bool) or absent."""
    if raw is None:
        return default
    try:
        return json.loads(raw)
    except (ValueError, TypeError):
        return raw


def _spark_schema_of(table_dir: str, snapshot_id: int | None = None) -> str:
    from webcodec.spark.decode_job import _schema_ddl
    from webcodec.spark.table import SnapshotTable

    snap = SnapshotTable(table_dir).read_snapshot_meta(snapshot_id)
    if snap is None:
        raise FileNotFoundError(f"no webcodec snapshot at {table_dir}")
    return _schema_ddl(snap["schema"], None)


def _table_aliases(table_dir: str, snapshot_id: int | None) -> dict:
    """Rename provenance of the snapshot a reader plans against, resolved
    driver-side and shipped to executors with the reader ({} without a
    table)."""
    from webcodec.spark.decode_job import _aliases_of
    from webcodec.spark.table import SnapshotTable

    try:
        return _aliases_of(SnapshotTable(table_dir).read_snapshot_meta(snapshot_id))
    except OSError:
        return {}


@dataclass
class _FileSplit(InputPartition):
    path: str
    # half-open row slice for intra-file parallelism; None = whole file
    row_lo: int | None = None
    row_hi: int | None = None
    # merge-on-read positional-delete sidecars (absolute paths)
    deletes: tuple = ()

    def row_range(self) -> tuple[int, int] | None:
        return None if self.row_lo is None else (self.row_lo, self.row_hi)


class WebcodecReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType):
        self.table_dir = _local_path(options.get("path"))
        if not self.table_dir:
            raise ValueError("webcodec reader requires option('path', ...)")
        self.columns = [f.name for f in schema.fields] if schema.fields else None
        self.types = {f.name: f.dataType.simpleString() for f in schema.fields}
        sid = options.get("snapshot_id")
        self.snapshot_id = int(sid) if sid is not None else None  # time travel
        # split files larger than this (compressed) into row-range tasks;
        # mirrors spark.sql.files.maxPartitionBytes (128 MiB default)
        self.target_split_bytes = int(
            options.get("target_split_bytes", 128 * 1024 * 1024)
        )
        # C12: key for encrypted tables, hex-encoded (the same trust surface
        # as parquet's encryption properties — options ship to executors)
        ekh = options.get("encryption_key_hex")
        self.encryption_key = bytes.fromhex(ekh) if ekh else None
        self.predicate: list[tuple] | None = None
        # rename provenance (current name -> older chunk names), resolved
        # driver-side at plan time and shipped to executors with the reader
        self.aliases = _table_aliases(self.table_dir, self.snapshot_id)

    def partitions(self):
        from webcodec.spark.decode_job import plan_decode_splits
        from webcodec.spark.table import SnapshotTable

        tbl = SnapshotTable(self.table_dir)
        # manifest min/max pruning (D2); optional time travel. Intra-file
        # parallelism (row-group-split analogue): the shared planner cuts one
        # task per ~target_split_bytes of compressed data from manifest stats
        # only — the driver never opens data files; page-level skip keeps each
        # task's IO proportional to its row slice.
        files = tbl.data_files(self.predicate, snapshot_id=self.snapshot_id)
        return [
            _FileSplit(path, None if lo < 0 else lo, None if lo < 0 else hi, dels)
            for path, lo, hi, dels in plan_decode_splits(
                files, self.table_dir, self.target_split_bytes
            )
        ]

    def read(self, partition: _FileSplit):
        from webcodec.spark.decode_job import _normalize_ts_for_spark, read_file

        t = read_file(partition.path, self.columns or list(self.types),
                      self.types, self.predicate, partition.row_range(),
                      partition.deletes, self.aliases, self.encryption_key)
        yield from _normalize_ts_for_spark(t).to_batches(8_192)


class WebcodecPushdownReader(WebcodecReader):
    """Opt-in filter-pushdown reader: ``.option("pushdown", "true")``.

    OPT-IN (not the default) because Spark 4.1's Python DataSource caches
    the planned read on the shared relation and ``PythonScanBuilder.
    pushFilters`` OVERWRITES that cache with filter-pruned partitions
    (``PythonDataSourceV2.setReadInfo``) — so on a REUSED DataFrame, a
    filtered query poisons the plan of a later unfiltered query, which then
    silently returns only the filtered subset (reproduced in
    tests/test_datasource.py::test_no_cross_scan_filter_poisoning; affects
    any Python DataSource implementing pushFilters, not just this one).
    Safe usage contract: one loaded DataFrame per filter shape — i.e. call
    ``spark.read...load()`` per query, which every internal query does.
    Requires spark.sql.python.filterPushdown.enabled=true."""

    def pushFilters(self, filters: list[Filter]):  # noqa: N802 (API name)
        """Accept the D4 predicate algebra as a conjunct list: the five simple
        comparisons, In, IsNull/IsNotNull, and StringStartsWith/Contains/
        EndsWith (applied to manifest file pruning AND bloom/dict/page pruning
        in the decoder; the substring ops prune at the dictionary tier).
        Everything else is yielded back — Spark re-applies pushed filters
        anyway, so pushdown is purely a scan reduction."""
        accepted: list[tuple] = []
        for f in filters:
            term = None
            if len(f.attribute) == 1:
                col = f.attribute[0]
                op = _OPS.get(type(f))
                if op is not None:
                    term = (col, op, f.value)
                elif isinstance(f, In):
                    term = (col, "in", list(f.value))
                elif isinstance(f, IsNull):
                    term = (col, "isnull", None)
                elif isinstance(f, IsNotNull):
                    term = (col, "notnull", None)
                elif isinstance(f, StringStartsWith):
                    term = (col, "startswith", f.value)
                elif isinstance(f, StringContains):
                    term = (col, "contains", f.value)
                elif isinstance(f, StringEndsWith):
                    term = (col, "endswith", f.value)
            if term is not None:
                accepted.append(term)
            else:
                yield f
        # unconditional (re)assign: a reader instance must never carry a
        # previous plan's conjuncts into a scan that pushed none
        self.predicate = accepted or None


@dataclass
class _CommitMsg(WriterCommitMessage):
    lineage: str  # json list of the task's manifest entries ("" = none)


def _lineage_entries(messages) -> list[dict]:
    """Flatten the manifest entries of the tasks' commit messages."""
    return [e for m in messages if m is not None and m.lineage
            for e in json.loads(m.lineage)]


def _split_transforms(s: str) -> list[str]:
    """Split 'days(ts), bucket(16, url)' on TOP-LEVEL commas only."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


class WebcodecWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        self.table_dir = _local_path(options.get("path"))
        if not self.table_dir:
            raise ValueError("webcodec writer requires option('path', ...)")
        self.overwrite = overwrite
        self.schema_fields = [
            {"name": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable}
            for f in schema.fields
        ]
        self.sort_key = options.get("sort_key") or None
        self.compression = options.get("compression", "zstd")
        # per-column overrides, pyarrow-style names (SURVEY.md §2.B6):
        #   .option("column_encoding", '{"text": "fsst", "html": "plain"}')
        #   .option("use_dictionary", "false") / '["lang"]'
        self.column_encoding = _json_opt(options.get("column_encoding"), "auto")
        self.use_dictionary = _json_opt(options.get("use_dictionary"), True)
        # Iceberg-style hidden partitioning, same transform syntax as the job
        # API: .option("partition_by", "days(ts), event_type, bucket(16, url)")
        # — top-level comma split is paren-aware
        self.partition_spec = None
        pb = options.get("partition_by")
        if pb:
            from webcodec.spark.partition import parse_partition_spec, validate_spec

            self.partition_spec = parse_partition_spec(_split_transforms(pb))
            validate_spec(self.partition_spec, [f["name"] for f in self.schema_fields])
        # per-tuple buffer flush threshold for fanout writes (raw Arrow bytes)
        self.fanout_flush_bytes = int(options.get("fanout_flush_bytes", 128 << 20))
        # C12 modular encryption: .option("encryption_key_hex", key.hex())
        # (+ optional "encryption_key_id" recorded in footers)
        ekh = options.get("encryption_key_hex")
        self.encryption_key = bytes.fromhex(ekh) if ekh else None
        self.encryption_key_id = options.get("encryption_key_id", "")
        # "plaintext" (default) or "encrypted" (whole footer confidential)
        self.encryption_footer_mode = options.get(
            "encryption_footer_mode", "plaintext")

    def _make_config(self):
        from webcodec.config import EncoderConfig

        return EncoderConfig(
            compression=self.compression,
            column_encoding=self.column_encoding,
            use_dictionary=self.use_dictionary,
            encryption_key=self.encryption_key,
            encryption_key_id=self.encryption_key_id,
            encryption_footer_mode=self.encryption_footer_mode,
        )

    def write(self, iterator):
        """One task's files through the job API's writers: one streamed
        file (a row group every ~128MB raw, so a skewed Spark partition
        never materializes; sort_key sorts within each group), or the fanout
        writer under ``partition_by``. The commit message carries their
        manifest entries."""
        from pyspark import TaskContext
        from webcodec.spark.encode_job import (
            _fanout_stream,
            _manifest_entries,
            _write_one_batches,
        )

        data_dir = os.path.join(self.table_dir, "data")
        os.makedirs(data_dir, exist_ok=True)
        pid = TaskContext.get().partitionId()
        cfg = self._make_config()
        if self.partition_spec:
            entries = [e for b in _fanout_stream(
                data_dir, pid, iterator, cfg, self.sort_key,
                self.partition_spec, flush_bytes=self.fanout_flush_bytes)
                for e in _manifest_entries(b)]
        else:
            # an empty partition (routine under aggregations with many
            # shuffle partitions) writes no file
            entries = _manifest_entries(_write_one_batches(
                data_dir, pid, iterator, cfg, self.sort_key))
        return _CommitMsg(lineage=json.dumps(entries) if entries else "")

    def _props(self) -> dict:
        props = {"sort_key": self.sort_key or ""}
        if self.partition_spec:
            props["partition_spec"] = self.partition_spec
        return props

    def commit(self, messages):
        """Driver-side snapshot flip — files become visible atomically here
        (two-phase protocol: uncommitted task output is invisible)."""
        from webcodec.spark.table import SnapshotTable

        tbl = SnapshotTable(self.table_dir)
        tbl.init()
        files = _lineage_entries(messages)
        # namespace partition ids by the new snapshot so repeated appends
        # never collide in the manifest (append means APPEND, not upsert —
        # the job API's stable ids are a resume feature; this writer has
        # none). Fanout pids already use FANOUT_FLAG | (task << 20) + seq,
        # so partitioned commits shift the namespace ABOVE that layout
        # (below the flag bit) instead of the flat 1e6 stride.
        sid = (tbl.current_snapshot_id() or 0) + 1
        base = (sid << 44) if self.partition_spec else sid * 1_000_000
        for f in files:
            f["partition_id"] += base
        tbl.commit(
            files,
            self.schema_fields,
            properties=self._props(),
            replace=self.overwrite,
            materialize=False,  # O(delta) commit: don't re-read the table
        )

    def abort(self, messages):
        for f in _lineage_entries(messages):
            try:
                os.remove(os.path.join(self.table_dir, f["path"]))
            except OSError:
                pass


from pyspark.sql.datasource import DataSourceStreamReader


class WebcodecStreamReader(DataSourceStreamReader):
    """Streaming SOURCE: tail a webcodec table's snapshot log.

    ``spark.readStream.format("webcodec").option("path", d).load()`` — each
    microbatch delivers the rows of files added between two snapshot ids
    (offset = {"snapshot_id": N}). Partition-based: the driver plans only a
    FILE LIST per microbatch; each file is decoded executor-side (one task
    per file), so driver memory stays O(file names), never O(rows) — the
    scale requirement a SimpleDataSourceStreamReader cannot meet. Exactly-
    once by construction: snapshots are immutable and append files atomically
    (SURVEY.md §2.G incremental behavior — the reference's 'append new files
    + summary metadata')."""

    def __init__(self, options: dict, schema: StructType | None = None):
        import hashlib

        self.table_dir = _local_path(options.get("path"))
        if not self.table_dir:
            raise ValueError("webcodec stream reader requires option('path', ...)")
        self.start_snapshot = int(options.get("start_snapshot_id", 0))
        # rate limiting (maxFilesPerTrigger analogue): bound each microbatch
        # to N new files via sub-snapshot offsets {"snapshot_id", "pos"}.
        # pos = consumed files of that snapshot's delta; -1 = fully consumed.
        mft = options.get("max_files_per_trigger")
        self.max_files_per_trigger = int(mft) if mft is not None else None
        # maxBytesPerTrigger analogue: bound each microbatch by the COMPRESSED
        # bytes of the files it admits (manifest totals — no file IO). At
        # least one file is always admitted so the stream cannot stall on a
        # single oversized file. Composes with max_files_per_trigger
        # (whichever bound hits first).
        mbt = options.get("max_bytes_per_trigger")
        self.max_bytes_per_trigger = int(mbt) if mbt is not None else None
        # replace commits (compact/rewrite/overwrite) re-list existing rows
        # under new paths; delivering them as appends breaks exactly-once.
        # Default: fail loudly. Opt-in ignore_changes=true skips them.
        self.ignore_changes = str(options.get("ignore_changes", "false")).lower() == "true"
        # Rate-limit CURSOR: the Python stream API never hands latestOffset
        # the committed offset, so after a restart max_files_per_trigger had
        # nothing to bound the catch-up against (one batch swallowed the whole
        # backlog). commit() persists the committed end offset keyed by
        # stream_id (default: hash of the reader options — restarts of the
        # same query definition share it); latestOffset seeds from it.
        sid_key = options.get("stream_id") or hashlib.sha1(
            json.dumps(sorted((str(k), str(v)) for k, v in options.items())).encode()
        ).hexdigest()[:12]
        self._cursor_path = os.path.join(
            self.table_dir, "meta", f".stream-cursor-{sid_key}.json"
        )
        self._last: dict | None = None  # last end offset emitted THIS run
        self._delta_cache: dict[int, list[dict]] = {}  # snapshots are immutable
        self.types = (
            {f.name: f.dataType.simpleString() for f in schema.fields} if schema else {}
        )
        # C12: key for streaming over encrypted tables
        ekh = options.get("encryption_key_hex")
        self.encryption_key = bytes.fromhex(ekh) if ekh else None
        self.aliases = _table_aliases(self.table_dir, None)

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        off = {"snapshot_id": self.start_snapshot, "pos": -1}
        self._last = off
        return off

    def _load_cursor(self) -> dict | None:
        try:
            with open(self._cursor_path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _delta_files(self, s: int) -> list[dict]:
        """Files ADDED by snapshot ``s`` (vs s-1), manifest order (stable:
        commits append). Memoized — snapshots are immutable. Replace
        snapshots (compaction/rewrite/overwrite) carry no NEW rows: their
        files re-encode existing data, so diffing them by path would
        re-deliver every row — skipped under ignore_changes, error
        otherwise."""
        from webcodec.spark.table import SnapshotTable

        if s <= 0:
            return []
        if s in self._delta_cache:
            return self._delta_cache[s]
        tbl = SnapshotTable(self.table_dir)
        newer = tbl.read_snapshot_meta(s)
        if newer is None:
            raise RuntimeError(
                f"webcodec stream: snapshot {s} of {self.table_dir} has been "
                "expired (expire_snapshots ran past this stream's offset); "
                "restart the stream from a fresh checkpoint or keep more "
                "snapshot history"
            )
        props = newer.get("properties") or {}
        if newer.get("operation") == "upsert":
            # NOT skippable even under ignore_changes: an upsert snapshot
            # mixes superseded-key updates with genuinely NEW inserted rows
            # in one commit — skipping it silently LOSES the inserts, and
            # delivering it double-delivers the updates. Neither preserves
            # the documented semantics, so fail with guidance.
            raise RuntimeError(
                f"webcodec stream: snapshot {s} of {self.table_dir} is an "
                "upsert (mixed updates + inserts); it cannot be streamed "
                "exactly-once and ignore_changes would silently drop the "
                "inserted rows. Stream from an append-only table, or "
                "restart from a fresh checkpoint past this snapshot"
            )
        is_replace = (
            newer.get("operation") in ("replace", "delete", "rollback")
            # legacy snapshots (pre-'operation' field) mark maintenance via
            # properties
            or props.get("compacted") == "true"
            or "rewritten_from" in props
        )
        if is_replace:
            if not self.ignore_changes:
                raise RuntimeError(
                    f"webcodec stream: snapshot {s} of {self.table_dir} is a "
                    "replace commit (compaction/rewrite/overwrite); its files "
                    "contain no new rows and re-delivering them would break "
                    "exactly-once. Set option('ignore_changes', 'true') to "
                    "skip replace commits, or stream from a table that is not "
                    "compacted while the stream runs"
                )
            self._delta_cache[s] = []
            return []
        # shard-aware delta: for shard-format snapshots this reads ONLY the
        # manifest shards the commit added — O(files added), independent of
        # table size (SnapshotTable.added_files fast path)
        out = tbl.added_files(s)
        if out is None:
            raise RuntimeError(
                f"webcodec stream: snapshot {s - 1} of {self.table_dir} has "
                f"been expired, so the files added by snapshot {s} cannot be "
                "determined; restart from a fresh checkpoint or keep more "
                "snapshot history"
            )
        self._delta_cache[s] = out
        return out

    def latestOffset(self) -> dict:  # noqa: N802 (API name)
        from webcodec.spark.table import SnapshotTable

        cur = max(SnapshotTable(self.table_dir).current_snapshot_id() or 0,
                  self.start_snapshot)
        head = {"snapshot_id": cur, "pos": -1}
        if self.max_files_per_trigger is None and self.max_bytes_per_trigger is None:
            self._last = head
            return head
        if self._last is None:
            # restarted from a checkpoint: the engine does not hand the
            # committed offset to latestOffset, so seed the catch-up bound
            # from the cursor commit() persisted; without one (pre-upgrade
            # checkpoint, cursor deleted) the first batch is unbounded —
            # disclosed limitation of the Python stream API
            cursor = self._load_cursor()
            if cursor is None or int(cursor.get("snapshot_id", -1)) > cur:
                self._last = head
                return head
            self._last = cursor
        s, p = int(self._last["snapshot_id"]), int(self._last.get("pos", -1))
        inf = float("inf")
        fbudget = self.max_files_per_trigger if self.max_files_per_trigger is not None else inf
        bbudget = self.max_bytes_per_trigger if self.max_bytes_per_trigger is not None else inf
        taken = 0
        while fbudget > 0 and bbudget > 0 and (s < cur or (s == cur and p != -1)):
            if p == -1:
                s, p = s + 1, 0
                continue
            d = self._delta_files(s)
            while p < len(d) and fbudget > 0 and bbudget > 0:
                sz = int(d[p].get("compressed_bytes") or 0)
                if taken > 0 and sz > bbudget:
                    bbudget = 0  # bytes bound hit; file waits for next batch
                    break
                p += 1
                taken += 1
                fbudget -= 1
                bbudget -= sz
            if p >= len(d):
                p = -1
        off = {"snapshot_id": s, "pos": p}
        self._last = off
        return off

    def _files_between(self, a: dict, b: dict) -> list[dict]:
        """Files in (offset a, offset b] — offsets are {"snapshot_id", "pos"}
        (legacy checkpoints without "pos" mean snapshot fully consumed)."""
        a_sid, a_pos = int(a["snapshot_id"]), int(a.get("pos", -1))
        b_sid, b_pos = int(b["snapshot_id"]), int(b.get("pos", -1))
        files: list[dict] = []
        for s in range(a_sid, b_sid + 1):
            d = self._delta_files(s)
            lo = (len(d) if a_pos == -1 else a_pos) if s == a_sid else 0
            hi = (len(d) if b_pos == -1 else b_pos) if s == b_sid else len(d)
            files.extend(d[lo:hi])
        return files

    def partitions(self, start: dict, end: dict):
        a = (int(start["snapshot_id"]), int(start.get("pos", -1)))
        b = (int(end["snapshot_id"]), int(end.get("pos", -1)))
        # normalize pos=-1 (fully consumed) as +inf within its snapshot
        norm = lambda t: (t[0], float("inf") if t[1] == -1 else t[1])  # noqa: E731
        if norm(b) < norm(a):
            # The engine's committed start is AHEAD of the end latestOffset
            # planned — normal after a crash between the engine's commit-log
            # write and our best-effort cursor persist (the cursor is then
            # one batch stale), or when two queries share a stream_id. Clamp
            # to an empty batch and re-seed the cursor from the engine's
            # start: the stream self-heals on the next trigger instead of
            # crash-looping.
            self._last = dict(start)
            return []
        self._last = dict(end)  # ground rate limiting in the engine's cursor
        files = self._files_between(start, end)
        # large microbatch files -> row-range tasks, same planner as batch
        from webcodec.spark.decode_job import plan_decode_splits

        # newly-added stream files never carry delete sidecars (a delete
        # commit is replace-like and is rejected/skipped in _delta_files)
        return [
            _FileSplit(path, None if lo < 0 else lo, None if lo < 0 else hi)
            for path, lo, hi, _dels in plan_decode_splits(files, self.table_dir)
        ]

    def read(self, partition: _FileSplit):
        # executor-side decode: Arrow batches straight from the page files
        # (evolved-schema-aware: pre-evolution files null-fill added columns)
        if self.types:
            from webcodec.spark.decode_job import _normalize_ts_for_spark, read_file

            t = _normalize_ts_for_spark(read_file(
                partition.path, list(self.types), self.types, None,
                partition.row_range(), (), self.aliases, self.encryption_key))
        else:
            from webcodec import filefmt

            t = filefmt.read_table(partition.path, row_range=partition.row_range(),
                                   encryption_key=self.encryption_key)
        yield from t.to_batches(8_192)

    def commit(self, end: dict) -> None:
        # snapshots are immutable — nothing to clean up. Persist the committed
        # offset as the restart rate-limit cursor (see __init__): atomic
        # tmp+rename so a crash mid-write leaves the previous cursor intact.
        try:
            os.makedirs(os.path.dirname(self._cursor_path), exist_ok=True)
            tmp = f"{self._cursor_path}.{uuid.uuid4().hex[:8]}.tmp"
            with open(tmp, "w") as f:
                json.dump(dict(end), f)
            os.replace(tmp, self._cursor_path)
        except OSError:
            pass  # cursor is a bound hint, never a correctness dependency


class WebcodecStreamWriter(DataSourceStreamArrowWriter):
    """Structured Streaming sink: each microbatch commits one snapshot.

    Exactly-once at the table level: files written by a failed attempt are
    never referenced by a manifest (abort removes them; orphans are invisible
    to readers); partition ids are namespaced by batchId so microbatches
    never collide in the manifest (SURVEY.md §2.G)."""

    def __init__(self, options: dict, schema: StructType):
        self._w = WebcodecWriter(options, schema, overwrite=False)

    def write(self, iterator):
        return self._w.write(iterator)

    def commit(self, messages, batchId: int):
        from webcodec.spark.table import SnapshotTable

        tbl = SnapshotTable(self._w.table_dir)
        tbl.init()
        files = _lineage_entries(messages)
        base = (batchId << 44) if self._w.partition_spec else batchId * 1_000_000
        for f in files:
            f["partition_id"] = base + f["partition_id"]
        tbl.commit(
            files,
            self._w.schema_fields,
            properties={**self._w._props(), "last_batch_id": str(batchId)},
            materialize=False,  # per-microbatch commits must stay O(delta)
        )

    def abort(self, messages, batchId: int):
        self._w.abort(messages)


class WebcodecDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "webcodec"

    def schema(self):
        sid = self.options.get("snapshot_id")
        return _spark_schema_of(
            _local_path(self.options["path"]), int(sid) if sid is not None else None
        )

    def reader(self, schema: StructType) -> WebcodecReader:
        # pushdown is opt-in: see WebcodecPushdownReader's docstring for the
        # Spark 4.1 shared-relation readInfo-poisoning bug it works around
        if str(self.options.get("pushdown", "false")).lower() == "true":
            return WebcodecPushdownReader(self.options, schema)
        return WebcodecReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> WebcodecWriter:
        return WebcodecWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> WebcodecStreamWriter:
        return WebcodecStreamWriter(self.options, schema)

    def streamReader(self, schema: StructType) -> WebcodecStreamReader:
        return WebcodecStreamReader(self.options, schema)
