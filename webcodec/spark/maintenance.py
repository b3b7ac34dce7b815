"""Table maintenance: compaction (no re-encode) and rewrite/transcode.

Reference parity (SURVEY.md §2.C10/C11): ``ParquetFileWriter.appendFile`` /
``appendRowGroups`` (byte-level merge of serialized groups, no decode) and
``ParquetRewriter`` (decode -> re-encode with different options).

Compaction is driver-side file IO (cheap: byte concat + footer merge) —
at cluster scale the same per-output-file merge would run as one Spark task
per output via the identical ``filefmt.append_files`` call. Rewrite IS a
Spark job: one task per source file, path-list parallelism (no JVM transfer).
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid

from pyspark.sql import SparkSession

from webcodec.config import EncoderConfig
from webcodec.spark.decode_job import (
    _aliases_of,
    _arrow_type_of_spark,
    _file_refs,
    _local_chunks,
    load_delete_positions,
    read_file,
)
from webcodec.spark.table import SnapshotTable


def compact(table_dir: str, target_bytes: int = 128 << 20) -> dict:
    """Merge small files into ~target_bytes files WITHOUT re-encoding
    (byte-level page copy + footer merge), then commit a new snapshot.

    Files bin-pack only within one schema signature (chunk-name set +
    logical schema, ``filefmt.schema_signature``): after schema evolution a
    pre-evolution file and an evolved file must NOT byte-merge — the merged
    footer would claim the added column for groups that never wrote it.

    On a partitioned table, files bin-pack only within one partition TUPLE
    (Iceberg compaction semantics) — merging across tuples would turn every
    exact partition prune into a conservative keep; the merged entry keeps
    its tuple, so pruning survives maintenance.

    Encrypted files (C12) never byte-merge — per-file AAD prefixes make a
    page copy fail authentication — so they stay in single-file bins here
    (safe no-op); materialize their compaction via ``rewrite_encoded``."""
    from webcodec import filefmt

    tbl = SnapshotTable(table_dir)
    snap = tbl.read_snapshot()
    if snap is None:
        raise FileNotFoundError(f"no snapshot in {table_dir}")
    # group same-tuple files together (they interleave across fanout tasks),
    # then by pid for deterministic merge order
    files = sorted(
        snap["files"],
        key=lambda f: (json.dumps(f.get("partition"), sort_keys=True, default=str),
                       f["partition_id"]),
    )

    # bin-pack adjacent same-signature, same-partition-tuple files up to
    # target_bytes
    bins: list[list[dict]] = [[]]
    acc = 0
    sig = None
    for f in files:
        # metadata-only: every Spark write path records signature and
        # encrypted (encode_job._manifest_entry); a footer is read only for
        # entries of manifests written before that
        enc = f.get("encrypted")
        if f.get("schema_sig") and enc is not None:
            sig_str = f["schema_sig"]
        else:
            try:
                footer = filefmt.read_footer_path(os.path.join(table_dir, f["path"]))
                sig_str = f.get("schema_sig") or filefmt.schema_signature_str(footer)
                if enc is None:
                    enc = bool(footer.get("encryption"))
            except ValueError as e:
                if "footer is encrypted" not in str(e):
                    raise
                # encrypted-footer file from a pre-flag manifest: keyless
                # compact can't inspect it — single-file bin (safe no-op)
                enc, sig_str = True, f.get("schema_sig") or f["path"]
        s = (sig_str,
             json.dumps(f.get("partition"), sort_keys=True, default=str))
        # files with merge-on-read delete sidecars never byte-merge: a byte
        # copy would resurrect their deleted rows (materialize them via
        # rewrite_encoded first). Encrypted files never byte-merge either
        # (per-file AAD prefixes — append_files would raise mid-run after
        # earlier bins were already written); compact them via
        # rewrite_encoded. Both stay in single-file bins (no-op).
        if f.get("delete_files") or enc:
            if bins[-1]:
                bins.append([])
            bins[-1].append(f)
            bins.append([])
            acc, sig = 0, None
            continue
        if bins[-1] and (acc + f["compressed_bytes"] > target_bytes or s != sig):
            bins.append([])
            acc = 0
        bins[-1].append(f)
        acc += f["compressed_bytes"]
        sig = s
    bins = [b for b in bins if b]
    if all(len(b) <= 1 for b in bins):
        return snap  # nothing to do

    from webcodec.spark.encode_job import _lineage_row, _manifest_entries

    new_files = []
    for b in bins:
        if len(b) == 1:
            new_files.append(b[0])
            continue
        pid = b[0]["partition_id"]
        attempt = uuid.uuid4().hex[:12]
        fname = f"part-{pid:05d}-{attempt}.wcd"
        srcs = [os.path.join(table_dir, f["path"]) for f in b]
        footer = filefmt.append_files(os.path.join(tbl.data_dir, fname), srcs)
        # the merged entry comes from the merged footer, like every written
        # file's: stats roll up across its groups (one per source)
        new_files += _manifest_entries(_lineage_row(
            pid, fname, footer, 0.0, attempt, partition=b[0].get("partition")))
    props = dict(snap.get("properties", {}))
    props["compacted"] = "true"
    return tbl.commit(new_files, snap["schema"], properties=props, replace=True)


def delete_where(spark: SparkSession, table_dir: str, predicate,
                 encryption_key: bytes | None = None) -> dict:
    """Merge-on-read row deletion (Iceberg v2 positional-delete analogue —
    the takedown path a training-data pipeline needs WITHOUT rewriting
    petabytes): one Spark task per candidate file computes the GLOBAL
    positions matching ``predicate`` and writes them to a small sidecar
    (sorted int64 LE) under ``deletes/``; the commit re-points each affected
    manifest entry at its sidecar list (data files untouched). Readers
    subtract the positions inside the same keep-mask machinery as predicate
    pushdown, so page skip and row-range splits keep working. File-level
    stats pruning bounds the scan to files that MAY match; compaction
    materializes deletes via ``rewrite_encoded``.

    Positions accumulate across calls (sidecars union at read). Returns
    ``{"deleted_rows": n, "files_touched": k}`` plus the new snapshot id."""
    from webcodec import filefmt
    from webcodec import predicate as predmod

    conjuncts = predmod.normalize(predicate)
    if conjuncts is None:
        raise ValueError("delete_where requires a predicate")
    tbl = SnapshotTable(table_dir)
    snap = tbl.read_snapshot()
    if snap is None:
        raise FileNotFoundError(f"no snapshot in {table_dir}")
    # stats-pruned: only files that MAY match
    updated, total = _write_deletes(
        spark, table_dir, snap, tbl.data_files(conjuncts),
        functools.partial(filefmt.match_positions, predicate=conjuncts,
                          aliases=_aliases_of(snap), encryption_key=encryption_key),
        encryption_key)
    if not updated:
        return {"deleted_rows": 0, "files_touched": 0,
                "snapshot_id": snap["snapshot_id"]}
    new = _commit_deletes(tbl, snap, updated)
    return {"deleted_rows": total, "files_touched": len(updated),
            "snapshot_id": new["snapshot_id"]}


def _write_deletes(spark: SparkSession, table_dir: str, snap: dict,
                   candidates: list[dict], positions_of,
                   encryption_key: bytes | None) -> tuple[list[dict], int]:
    """The positional-delete stage of ``delete_where`` and ``upsert``: one
    Spark task per candidate file takes ``positions_of(path)`` (GLOBAL row
    positions, or None), subtracts the file's earlier sidecars and writes
    what is left as a sorted int64 LE sidecar under ``deletes/``. Returns
    the touched files' manifest entries with the sidecar and its row count
    merged in, and the number of rows newly deleted."""
    items = _file_refs(candidates, table_dir)
    if not items:
        return [], 0
    del_dir = os.path.join(table_dir, "deletes")
    os.makedirs(del_dir, exist_ok=True)
    aliases = _aliases_of(snap)
    bc = spark.sparkContext.broadcast(items)

    def find_fn(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            for i in b.column("id").to_pylist():
                pid, path, existing = bc.value[i]
                pos = positions_of(path)
                prior = load_delete_positions(existing, path, aliases=aliases,
                                              encryption_key=encryption_key)
                if pos is not None and prior is not None:
                    pos = np.setdiff1d(pos, prior)  # already-deleted rows don't recount
                if pos is None or not len(pos):
                    continue
                name = f"del-{pid:05d}-{uuid.uuid4().hex[:12]}.bin"
                with open(os.path.join(del_dir, name), "wb") as f:
                    f.write(pos.astype("<i8").tobytes())
                yield pa.RecordBatch.from_pydict({
                    "partition_id": pa.array([pid], pa.int64()),
                    "delete_file": pa.array([os.path.join("deletes", name)]),
                    "n_deleted": pa.array([len(pos)], pa.int64()),
                })

    rows = spark.range(0, len(items), 1, len(items)).mapInArrow(
        find_fn, "partition_id long, delete_file string, n_deleted long"
    ).collect()
    by_pid = {f["partition_id"]: f for f in snap["files"]}
    updated = []
    for r in rows:
        e = dict(by_pid[r["partition_id"]])
        e["delete_files"] = list(e.get("delete_files") or []) + [r["delete_file"]]
        e["deleted_rows"] = int(e.get("deleted_rows") or 0) + int(r["n_deleted"])
        updated.append(e)
    return updated, sum(int(r["n_deleted"]) for r in rows)


def _commit_deletes(tbl: SnapshotTable, snap: dict, updated: list[dict],
                    added=(), operation: str = "delete") -> dict:
    """Commit re-pointed entries (plus ``added`` new files) on top of
    ``snap``; every re-pointed file must still be live at commit time."""
    return tbl.commit([*updated, *added], snap["schema"],
                      properties=dict(snap.get("properties") or {}),
                      operation=operation, materialize=False,
                      require_visible={e["partition_id"] for e in updated})


def _key_candidates(tbl: SnapshotTable, snap: dict, df, key_cols: list[str]) -> list[dict]:
    """Files that may hold a key of ``df``: with a single key column the
    manifest min/max stats prune against the keys' [min, max] envelope."""
    if len(key_cols) == 1:
        from pyspark.sql import functions as F

        k = key_cols[0]
        lohi = df.agg(F.min(k).alias("lo"), F.max(k).alias("hi")).collect()[0]
        if lohi["lo"] is not None:
            return tbl.data_files([(k, ">=", lohi["lo"]), (k, "<=", lohi["hi"])])
    return snap["files"]


def rename_column(table_dir: str, old: str, new: str) -> dict:
    """Metadata-only column rename (Iceberg ALTER COLUMN RENAME analogue):
    a new snapshot records ``renamed_from`` provenance; no data IO. Readers
    resolve the new name against old files' chunk names through the alias
    chain, predicates translate per file, and later appends carry the
    provenance forward automatically. Running streams keep their load-time
    schema — restart them to pick up the rename (the standard stance)."""
    tbl = SnapshotTable(table_dir)
    snap = tbl.read_snapshot_meta()
    if snap is None:
        raise FileNotFoundError(f"no snapshot in {table_dir}")
    names = [f["name"] for f in snap["schema"]]
    if old not in names:
        raise ValueError(f"no column {old!r} in table schema {names}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    if new in (snap.get("dropped_columns") or []):
        raise ValueError(
            f"column {new!r} was dropped from this table; renaming onto it "
            "would resurrect stale chunk data from pre-drop files"
        )
    schema = []
    for f in snap["schema"]:
        if f["name"] == old:
            f = {**f, "name": new,
                 "renamed_from": list(f.get("renamed_from") or []) + [old]}
        schema.append(f)
    return tbl.commit_metadata(schema, operation="schema")


def drop_column(table_dir: str, name: str) -> dict:
    """Metadata-only column drop: the column (and its whole rename chain)
    leaves the schema and joins the tombstone list; data files keep their
    chunks — reads simply never project them, and ``rewrite_encoded``
    physically removes them. Re-adding a tombstoned name is refused at
    commit time (pre-field-id stance: old files would resurrect stale
    values instead of nulls)."""
    tbl = SnapshotTable(table_dir)
    snap = tbl.read_snapshot_meta()
    if snap is None:
        raise FileNotFoundError(f"no snapshot in {table_dir}")
    entry = next((f for f in snap["schema"] if f["name"] == name), None)
    if entry is None:
        raise ValueError(f"no column {name!r} in table schema")
    schema = [f for f in snap["schema"] if f["name"] != name]
    if not schema:
        raise ValueError("cannot drop the last column")
    dropped = list(snap.get("dropped_columns") or [])
    dropped += [name, *(entry.get("renamed_from") or [])]
    return tbl.commit_metadata(
        schema, dropped_columns=sorted(set(dropped)), operation="schema"
    )


def delete_by_key(
    spark: SparkSession, table_dir: str, keys_df, key_cols: list[str]
) -> dict:
    """Equality deletes (Iceberg v2 equality-delete analogue): stage the
    source's DISTINCT keys as ONE parquet sidecar and attach it to every
    candidate entry — NO data scan at delete time, so the write cost is
    O(keys) and constant in table size (the CDC / streaming-takedown
    flavor). Readers decode only the key columns of each affected file and
    drop matching rows inside the same keep-mask machinery as positional
    deletes (the read-time key decode is the known equality-delete trade);
    ``rewrite_encoded`` materializes them, ``compact`` refuses to
    byte-merge affected files, and positional sidecars compose freely.

    Prefer ``delete_where`` when the takedown is a predicate (write-time
    scan, zero read-time overhead); use this when delete time must not
    touch the data. ``deleted_rows`` in the manifest stays unchanged —
    the match count is unknown without a scan (same Iceberg stance)."""
    tbl = SnapshotTable(table_dir)
    snap = tbl.read_snapshot()
    if snap is None:
        raise FileNotFoundError(f"no snapshot in {table_dir}")
    table_cols = {f["name"] for f in snap["schema"]}
    missing = [k for k in key_cols if k not in table_cols]
    if missing:
        raise ValueError(f"key columns not in table schema: {missing}")
    rel = os.path.join("deletes", f"eq-{uuid.uuid4().hex[:12]}")
    keys_df.select(*key_cols).distinct().write.parquet(os.path.join(table_dir, rel))

    updated = [{**f, "delete_files": [*(f.get("delete_files") or ()), rel]}
               for f in _key_candidates(tbl, snap, keys_df, key_cols)]
    if not updated:
        return {"files_touched": 0, "snapshot_id": snap["snapshot_id"],
                "sidecar": rel}
    new = _commit_deletes(tbl, snap, updated)
    return {"files_touched": len(updated), "snapshot_id": new["snapshot_id"],
            "sidecar": rel}


def rollback_to(table_dir: str, snapshot_id: int) -> dict:
    """Undo commits by rolling the table back to ``snapshot_id`` — a NEW
    snapshot reusing the target's manifest shards (O(1) metadata, no data
    IO); see :meth:`SnapshotTable.rollback_to`. History stays forward-only:
    time travel to the undone snapshots keeps working until
    ``expire_snapshots`` ages them out."""
    return SnapshotTable(table_dir).rollback_to(snapshot_id)


def upsert(
    spark: SparkSession,
    table_dir: str,
    df,
    key_cols: list[str],
    config: EncoderConfig | None = None,
    sort_key: str | None = None,
    encryption_key: bytes | None = None,
) -> dict:
    """Atomic MERGE by key (Iceberg v2 row-level MERGE analogue, merge-on-read
    flavor): every table row whose key appears in ``df`` is superseded via
    positional-delete sidecars, and ALL of ``df`` lands as new data files —
    in ONE snapshot commit (``operation="upsert"``), so a reader sees either
    the old state or the fully merged state, never a mix. Data files are
    never rewritten; ``compact``/``rewrite_encoded`` materialize later.

    Scale shape: the source's DISTINCT keys are staged as parquet on table
    storage — the build side of a hash join shipped via storage, so the
    driver never materializes keys; one Spark task per candidate data file
    decodes ONLY the key columns and records matching GLOBAL positions in an
    O(matches) sidecar; the new rows stream through the bounded-memory
    writer (row group cut every ~128 MB). With a single key column,
    candidate files are first pruned by the manifest min/max stats against
    the staged keys' [min, max] envelope.

    ``encryption_key`` decrypts EXISTING data files in stage 2 (key-column
    decode for the positional deletes); it defaults to the write config's
    ``encryption_key``, the same-key-for-the-whole-table norm.
    """
    import shutil

    from webcodec.spark.encode_job import (
        LINEAGE_SCHEMA,
        _make_scan_encode_fn,
        _manifest_entry,
    )

    tbl = SnapshotTable(table_dir)
    snap = tbl.read_snapshot()
    if snap is None:
        raise FileNotFoundError(f"no snapshot in {table_dir} (upsert needs a table)")
    table_cols = [f["name"] for f in snap["schema"]]
    if set(df.columns) != set(table_cols):
        raise ValueError(
            f"upsert source columns {sorted(df.columns)} != table columns "
            f"{sorted(table_cols)}"
        )
    missing = [k for k in key_cols if k not in table_cols]
    if missing:
        raise ValueError(f"key columns not in table schema: {missing}")
    df = df.select(*table_cols)  # align column order with the table schema

    keys_dir = os.path.join(table_dir, "tmp", f"upsert-keys-{uuid.uuid4().hex[:12]}")
    df.select(*key_cols).distinct().write.mode("overwrite").parquet(keys_dir)
    try:
        # -- stage 1: encode the source as NEW data files (no commit yet) --
        fn = _make_scan_encode_fn(
            tbl.data_dir, config or EncoderConfig(), sort_key, frozenset()
        )
        lineage = df.mapInArrow(fn, LINEAGE_SCHEMA).collect()
        # namespace new partition ids by the next snapshot so repeated
        # upserts/appends never collide in the manifest (same stance as the
        # DataSource writer)
        base = ((tbl.current_snapshot_id() or 0) + 1) * 1_000_000
        new_entries = [_manifest_entry(r) for r in lineage]
        for e in new_entries:
            e["partition_id"] += base

        # -- stage 2: positional deletes for superseded rows: the staged
        # keys directory already is an equality-delete sidecar --
        read_key = (encryption_key if encryption_key is not None
                    else getattr(config, "encryption_key", None))
        updated, total_superseded = _write_deletes(
            spark, table_dir, snap, _key_candidates(tbl, snap, df, key_cols),
            functools.partial(load_delete_positions, (keys_dir,),
                              aliases=_aliases_of(snap), encryption_key=read_key),
            read_key)

        # -- stage 3: ONE commit covering both --
        new = _commit_deletes(tbl, snap, updated, new_entries, operation="upsert")
        return {
            "inserted_rows": int(sum(e["rows"] for e in new_entries)),
            "superseded_rows": total_superseded,
            "files_added": len(new_entries),
            "files_touched": len(updated),
            "snapshot_id": new["snapshot_id"],
        }
    finally:
        shutil.rmtree(keys_dir, ignore_errors=True)


def rewrite_encoded(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    config: EncoderConfig | None = None,
    columns: list[str] | None = None,
    predicate=None,
    source_encryption_key: bytes | None = None,
    mask_columns: list[str] | None = None,
) -> dict:
    """Transcode a webcodec table (decode -> re-encode with new options, e.g.
    different compression, column subset/masking). One Spark task per source
    file; bytes never cross the JVM (reference parity: ParquetRewriter).
    ``source_encryption_key`` decrypts an encrypted source; the destination
    encrypts iff ``config.encryption_key`` is set (this is also the
    compaction path for encrypted tables, which never byte-merge).

    ``predicate`` (webcodec.predicate algebra) keeps only matching rows —
    the filtered-rewrite path a training-data pipeline uses for targeted
    deletion (e.g. takedowns): files whose stats prove no match are copied
    logically untouched via pruning, everything else re-encodes minus the
    dropped rows.

    ``mask_columns`` NULLIFIES the listed columns in the rewrite (reference
    parity: ParquetRewriter MaskMode — SURVEY §2 C11): the column stays in
    the schema, its values are destroyed — the column-level takedown
    (PII scrubbing) counterpart of the row-level predicate path. The masked
    chunks carry no page payloads beyond validity, so the rewrite also
    shrinks the table."""
    import pyarrow as pa

    config = config or EncoderConfig()
    src = SnapshotTable(src_dir)
    snap = src.read_snapshot()
    if snap is None:
        raise FileNotFoundError(f"no snapshot in {src_dir}")
    dst = SnapshotTable(dst_dir)
    dst.init()
    # ALWAYS project the current schema: columns=None must still EXCLUDE
    # dropped columns' chunks (drop_column's contract is that rewrite
    # physically purges them) and rename-localize per file
    cols = columns if columns is not None else [f["name"] for f in snap["schema"]]
    # the rewrite is 1:1 per source file, so partition tuples stay valid —
    # carry them (and the spec) unless a projection dropped a source column
    # the spec transforms
    spec = (snap.get("properties") or {}).get("partition_spec")
    if spec and cols and not all(f["col"] in cols for f in spec):
        spec = None
    paths = [(*ref, f.get("partition") if spec else None)
             for ref, f in zip(_file_refs(snap["files"], src_dir), snap["files"])]
    data_dir = dst.data_dir
    aliases = _aliases_of(snap)
    types = {f["name"]: f["type"] for f in snap["schema"]}
    mask = frozenset(mask_columns or ())
    unknown_mask = [m for m in mask if m not in types]
    if unknown_mask:
        raise ValueError(f"mask_columns not in table schema: {unknown_mask}")
    bc = spark.sparkContext.broadcast(paths)

    def rewrite_fn(batches):
        from webcodec.spark.encode_job import _write_one

        for b in batches:
            for i in b.column("id").to_pylist():
                pid, path, dels, part = bc.value[i]
                # masked columns are NEVER read/decrypted/decoded — their
                # values are destroyed anyway, so a blob-column takedown
                # costs zero decode; merge-on-read deletes MATERIALIZE here:
                # the rewritten file holds only live rows and no sidecars
                table = read_file(path, [c for c in cols if c not in mask], types,
                                  predicate, None, dels, aliases,
                                  source_encryption_key)
                if table.num_rows == 0:
                    continue
                for j, name in enumerate(cols):
                    if name in mask:
                        # MaskMode.NULLIFY: schema keeps the column, values
                        # are destroyed; the type is the CURRENT schema's
                        table = table.add_column(j, name, pa.nulls(
                            table.num_rows, type=_arrow_type_of_spark(types[name])))
                yield from _write_one(
                    data_dir, pid, table, config, None, partition=part
                ).to_batches()

    from webcodec.spark.encode_job import LINEAGE_SCHEMA, _manifest_entry

    pdf = spark.range(0, len(paths), 1, len(paths))
    rows = pdf.mapInArrow(rewrite_fn, LINEAGE_SCHEMA).collect()

    schema = snap["schema"]
    if cols:
        schema = [f for f in schema if f["name"] in cols]
    files = [_manifest_entry(r) for r in rows]
    props = {"rewritten_from": src_dir}
    if spec:
        props["partition_spec"] = spec
    return dst.commit(files, schema, properties=props, replace=True)


def export_parquet(
    spark: SparkSession, table_dir: str, out_dir: str, codec: str = "zstd",
    carry_encodings: bool = True, encryption_key: bytes | None = None,
    output_encryption_key: bytes | None = None,
    output_key_metadata: bytes | None = None,
    geometry_columns: dict | set | None = None,
    geography_columns: dict | set | None = None,
    annotation_columns: dict[str, str] | None = None,
    bloom_filter_columns: set | frozenset | None = None,
    data_page_version: int = 1,
    shred_variants: bool = False,
) -> dict:
    """Transcode the CURRENT snapshot of a webcodec table into STANDARD
    parquet files: exactly the rows and columns ``read_encoded`` returns —
    deleted rows subtracted, dropped columns left out, renamed columns under
    their current names, added columns null-filled, widened columns
    promoted (timestamps keep their written unit). Decoded with webcodec
    kernels AND re-serialized with webcodec's own parquet writer (thrift
    headers, v1 pages, spec RLE levels; webcodec.parquet_writer) — so any
    reference reader can consume the result. One Spark task per source
    file (one output file each), bytes never cross the JVM. Scope: flat primitive columns
    plus ARBITRARY-depth nesting — any composition of list/struct/map
    (full Dremel rep/def shredding, webcodec.dremel.shred),
    decimal128 as FLBA(16) (SURVEY §2.E1, C5). With ``carry_encodings``
    (default),
    columns the .wcd selector
    encoded as DELTA_BINARY_PACKED / BYTE_STREAM_SPLIT export as the SAME
    spec encoding (the selector's evidence transfers: what delta-packed well
    in .wcd delta-packs well in parquet); everything else stays
    dict/PLAIN. ``output_encryption_key`` writes MODULAR-ENCRYPTED parquet
    (encrypted-footer mode; the reference reader decrypts it) — an
    encrypted .wcd lakehouse exports to encrypted standard parquet without
    the data ever landing plaintext on disk. ``geometry_columns`` /
    ``geography_columns`` (set of names, or dict name -> crs) annotate
    binary WKB columns with the GEOMETRY/GEOGRAPHY logical types
    (parquet-format Geospatial.md; readers without geospatial support —
    e.g. pyarrow 16 — reject the footer, DuckDB reads them as blobs).
    ``annotation_columns`` maps column -> "json" | "bson" | "enum" to stamp
    the semantic BYTE_ARRAY logical types (LogicalTypes.md) on string/binary
    columns — e.g. DuckDB surfaces a JSON-annotated export as its JSON type.
    ``shred_variants`` emits variant columns SHREDDED (VariantShredding.md
    — the layout Spark 4 writes by default): typed_value columns + residual
    binaries from a per-file inferred shredding schema, so downstream
    readers can prune and project variant fields; root-conflicting columns
    fall back to the unshredded pair automatically."""
    src = SnapshotTable(table_dir)
    snap = src.read_snapshot()
    if snap is None:
        raise FileNotFoundError(f"no snapshot in {table_dir}")
    os.makedirs(out_dir, exist_ok=True)
    paths = _file_refs(snap["files"], table_dir)
    bc = spark.sparkContext.broadcast(paths)
    want = [f["name"] for f in snap["schema"]]
    types = {f["name"]: f["type"] for f in snap["schema"]}
    aliases = _aliases_of(snap)
    # Spark VariantType columns (snapshot schema type string "variant",
    # stored as struct<value,metadata>) export as VARIANT(1)-annotated
    # groups so Spark's parquet reader restores the variant type
    variant_cols = frozenset(n for n in want if types[n] == "variant")

    def export_fn(batches):
        import pyarrow as pa

        from webcodec import filefmt
        from webcodec.parquet_writer import write_parquet
        from webcodec.types import Encoding as _Enc

        carry = {
            int(_Enc.DELTA_BINARY_PACKED): "delta_binary_packed",
            int(_Enc.BYTE_STREAM_SPLIT): "byte_stream_split",
            int(_Enc.DELTA_LENGTH): "delta_length_byte_array",
            int(_Enc.DELTA_BYTE_ARRAY): "delta_byte_array",
        }

        def _ok(at: pa.DataType, enc: str) -> bool:
            # only types the parquet spec allows for the encoding
            # (narrow .wcd types decode as int8/16 etc. — skip)
            wide = (pa.types.is_int32(at) or pa.types.is_int64(at)
                    or (pa.types.is_timestamp(at) and at.unit == "us")
                    or pa.types.is_date32(at))
            if enc == "delta_binary_packed":
                return wide
            if enc in ("delta_length_byte_array", "delta_byte_array"):
                return pa.types.is_string(at) or pa.types.is_binary(at)
            return wide or pa.types.is_float32(at) or pa.types.is_float64(at)

        for b in batches:
            for i in b.column("id").to_pylist():
                pid, path, dels = bc.value[i]
                # the snapshot exactly as read_encoded sees it: current
                # names, no dropped column, no deleted row
                t = read_file(path, want, types, None, None, dels, aliases,
                              encryption_key)
                col_enc = None
                if carry_encodings:
                    # the chunk each current column was decoded from
                    local = _local_chunks(filefmt.read_footer_path(path, encryption_key),
                                          want, aliases)
                    col_enc = {
                        n: carry[c["encoding"]] for n, c in local.items()
                        if c.get("encoding") in carry
                        and _ok(t.column(n).type, carry[c["encoding"]])
                    } or None
                out = os.path.join(out_dir, f"part-{pid:05d}.parquet")
                # ~64MB row groups so downstream readers parallelize (C4)
                rg_rows = max(
                    t.num_rows * (64 << 20) // max(t.nbytes, 1), 4096
                )
                write_parquet(t, out, codec=codec, row_group_rows=int(rg_rows),
                              column_encoding=col_enc,
                              variant_columns=variant_cols,
                              shred_variants=shred_variants,
                              geometry_columns=geometry_columns,
                              geography_columns=geography_columns,
                              annotation_columns=annotation_columns,
                              bloom_filter_columns=bloom_filter_columns,
                              encryption_key=output_encryption_key,
                              encryption_key_metadata=output_key_metadata,
                              data_page_version=data_page_version)
                yield pa.RecordBatch.from_pydict(
                    {"pid": pa.array([pid], pa.int32()),
                     "rows": pa.array([t.num_rows], pa.int64())}
                )

    pdf = spark.range(0, len(paths), 1, len(paths))
    rows = pdf.mapInArrow(export_fn, "pid int, rows long").collect()
    return {"files": len(rows), "rows": int(sum(r["rows"] for r in rows))}


def expire_snapshots(
    table_dir: str, keep_last: int = 1, grace_seconds: float = 600.0
) -> dict:
    """Iceberg-style maintenance: delete snapshot manifests older than the
    newest ``keep_last`` and remove data files no kept snapshot references.
    Time travel remains valid for every kept snapshot; commits stay atomic
    (only already-unreferenced files are unlinked).

    ``grace_seconds`` is the Iceberg ``older_than`` stance: nothing written
    within the window is vacuumed, referenced or not. It closes the
    claim-race hole the commit-cutoff heuristic alone leaves open — a
    committer writes its data files and manifest shard BEFORE winning the
    snapshot claim, so a loser mid-retry has on-disk artifacts that are
    unreferenced AND older than the winner's committed_at; only absolute
    age proves no in-flight commit can still link them."""
    tbl = SnapshotTable(table_dir)
    cur = tbl.current_snapshot_id()
    if cur is None:
        raise FileNotFoundError(f"no snapshot in {table_dir}")
    ids = sorted(
        int(fn[len("snapshot-"):-len(".json")])
        for fn in os.listdir(tbl.meta_dir)
        if fn.startswith("snapshot-") and fn.endswith(".json")
    )
    keep = set(ids[-max(keep_last, 1):])
    keep.add(cur)  # never expire the current snapshot
    referenced: set[str] = set()
    referenced_shards: set[str] = set()
    cutoff = 0.0
    for sid in keep:
        snap = tbl.read_snapshot(sid)
        for f in snap["files"]:
            referenced.add(f["path"])
            referenced.update(f.get("delete_files") or ())
        referenced_shards.update(m["path"] for m in snap.get("manifests") or [])
        cutoff = max(cutoff, float(snap.get("committed_at") or 0.0))
    # candidate orphans: unreferenced AND older than the newest kept commit —
    # a concurrent in-flight commit writes its data files BEFORE linking its
    # snapshot, so files younger than the cutoff may belong to a commit we
    # cannot see yet (grace window keeps the optimistic-concurrency protocol
    # honest: only provably-unreferenced files are unlinked)
    candidates = []
    now = time.time()
    age_bar = min(cutoff, now - grace_seconds)
    for fn in os.listdir(tbl.data_dir):
        rel = os.path.join("data", fn)
        fpath = os.path.join(tbl.data_dir, fn)
        try:
            mtime = os.path.getmtime(fpath)
        except OSError:
            continue
        if rel not in referenced and mtime < age_bar:
            candidates.append((rel, fpath))
    # re-list snapshots: anything committed DURING the scan also pins files.
    # Only snapshots NEWER than the kept set can have appeared — check the id
    # BEFORE materializing (reading every to-be-deleted old snapshot here was
    # O(#old x file-list) wasted driver IO, and crashed outright when a prior
    # crashed expire had already vacuumed a shard an old snapshot references)
    for fn in os.listdir(tbl.meta_dir):
        if fn.startswith("snapshot-") and fn.endswith(".json"):
            sid = int(fn[len("snapshot-"):-len(".json")])
            if sid in keep or sid <= max(keep):
                continue
            try:
                late = tbl.read_snapshot(sid)
            except FileNotFoundError:
                continue  # its shards are already gone; nothing to pin
            if late is not None:
                for f in late["files"]:
                    referenced.add(f["path"])
                    referenced.update(f.get("delete_files") or ())
                referenced_shards.update(
                    m["path"] for m in late.get("manifests") or []
                )
    removed_files = 0
    for rel, fpath in candidates:
        if rel in referenced:
            continue
        try:
            os.remove(fpath)
            removed_files += 1
        except FileNotFoundError:
            pass
    removed_snaps = 0
    for sid in ids:
        if sid not in keep:
            os.remove(os.path.join(tbl.meta_dir, f"snapshot-{sid}.json"))
            removed_snaps += 1
    # vacuum delete sidecars no surviving snapshot references (a rewrite/
    # compact materialized them, or their snapshot expired) — same grace
    removed_deletes = 0
    del_dir = os.path.join(table_dir, "deletes")
    if os.path.isdir(del_dir):
        for fn in os.listdir(del_dir):
            rel = os.path.join("deletes", fn)
            fpath = os.path.join(del_dir, fn)
            try:
                if rel not in referenced and os.path.getmtime(fpath) < age_bar:
                    if os.path.isdir(fpath):  # equality-delete parquet dir
                        import shutil

                        shutil.rmtree(fpath)
                    else:
                        os.remove(fpath)
                    removed_deletes += 1
            except OSError:
                pass
    # vacuum manifest shards no surviving snapshot references; the same
    # mtime grace window protects an in-flight commit that wrote its shard
    # but has not linked its snapshot yet
    removed_shards = 0
    for fn in os.listdir(tbl.meta_dir):
        if not (fn.startswith("manifest-") and fn.endswith(".json")):
            continue
        if fn in referenced_shards:
            continue
        fpath = os.path.join(tbl.meta_dir, fn)
        try:
            if os.path.getmtime(fpath) < age_bar:
                os.remove(fpath)
                removed_shards += 1
        except OSError:
            pass
    return {
        "kept_snapshots": sorted(keep),
        "removed_snapshots": removed_snaps,
        "removed_files": removed_files,
        "removed_manifests": removed_shards,
        "removed_delete_files": removed_deletes,
    }


def remove_orphan_files(table_dir: str, older_than_seconds: float = 86_400.0) -> dict:
    """Iceberg RemoveOrphanFiles analogue: delete data files and delete-file
    sidecars that NO snapshot (any id — history is untouched) references and
    that are older than ``older_than_seconds``.

    Orphans accumulate from crashes, not normal operation: a writer killed
    between writing ``part-*.wcd`` and committing, leftover ``.tmp`` spool
    files, a commit that lost the optimistic claim race and died before its
    own cleanup. ``expire_snapshots`` never sees them (it vacuums only files
    that WERE referenced by now-expired snapshots), so a long-lived table
    needs both tools — exactly Iceberg's split between ExpireSnapshots and
    DeleteOrphanFiles. The default 24h window is Iceberg's ``older_than``
    stance: generous enough that no in-flight commit can still link the file.
    """
    tbl = SnapshotTable(table_dir)
    try:
        sids = sorted(
            int(fn[len("snapshot-"):-len(".json")])
            for fn in os.listdir(tbl.meta_dir)
            if fn.startswith("snapshot-") and fn.endswith(".json")
        )
    except FileNotFoundError:
        raise FileNotFoundError(f"no snapshot in {table_dir}") from None
    referenced: set[str] = set()
    for sid in sids:
        snap = tbl.read_snapshot(sid)
        if snap is None:
            continue
        for f in snap["files"]:
            referenced.add(f["path"])
            referenced.update(f.get("delete_files") or ())
    age_bar = time.time() - max(older_than_seconds, 0.0)
    removed = {"data": 0, "deletes": 0}
    for sub, key in (("data", "data"), ("deletes", "deletes")):
        d = os.path.join(table_dir, sub)
        if not os.path.isdir(d):
            continue
        for fn in os.listdir(d):
            rel = os.path.join(sub, fn)
            fpath = os.path.join(d, fn)
            if rel in referenced:
                continue
            try:
                if os.path.getmtime(fpath) >= age_bar:
                    continue
                if os.path.isdir(fpath):  # equality-delete parquet dir
                    import shutil

                    shutil.rmtree(fpath)
                else:
                    os.remove(fpath)
                removed[key] += 1
            except OSError:
                pass
    return {
        "removed_data_files": removed["data"],
        "removed_delete_files": removed["deletes"],
        "scanned_snapshots": len(sids),
    }
