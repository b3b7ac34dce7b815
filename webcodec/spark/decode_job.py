"""Distributed decode: webcodec table -> DataFrame.

File-level pruning happens driver-side against manifest stats (D2 analogue);
page-level pruning + projection happen inside the per-file Arrow UDF; the
residual predicate is re-applied by Catalyst (exact semantics regardless of
stats precision).
"""

from __future__ import annotations

import os

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from webcodec.spark.table import SnapshotTable

_SPARK_TYPE = {
    "string": "string",
    "int": "int",
    "bigint": "bigint",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "timestamp": "timestamp",
    "binary": "binary",
    "date": "date",
    "array<float>": "array<float>",
}


def _schema_ddl(schema: list[dict], columns: list[str] | None) -> str:
    cols = [f for f in schema if columns is None or f["name"] in columns]
    if columns is not None:  # preserve requested order
        cols.sort(key=lambda f: columns.index(f["name"]))
    return ", ".join(f"`{f['name']}` {_SPARK_TYPE.get(f['type'], f['type'])}" for f in cols)


_ARROW_SCALAR = {
    "string": pa.string(), "bigint": pa.int64(), "int": pa.int32(),
    "smallint": pa.int16(), "tinyint": pa.int8(), "double": pa.float64(),
    "float": pa.float32(), "boolean": pa.bool_(), "binary": pa.binary(),
    "date": pa.date32(), "timestamp": pa.timestamp("us", tz="UTC"),
    "timestamp_ntz": pa.timestamp("us"),
}


def _split_top(s: str) -> list[str]:
    """Split on commas at bracket depth 0 — BOTH angle brackets and parens
    (decimal(p,s) nests a comma inside struct/map field lists)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return parts


def _arrow_type_of_spark(spark_type: str) -> pa.DataType:
    """Arrow type for a Spark simpleString — self-contained recursive parse
    (struct/array/map over the scalar table) so it runs executor-side, where
    pyspark's own DDL parser is unavailable (it needs a live SparkContext)."""
    s = spark_type.strip()
    if s in _ARROW_SCALAR:
        return _ARROW_SCALAR[s]
    if s.startswith("array<") and s.endswith(">"):
        return pa.list_(_arrow_type_of_spark(s[6:-1]))
    if s.startswith("struct<") and s.endswith(">"):
        fields = []
        for item in _split_top(s[7:-1]):
            name, typ = item.split(":", 1)
            fields.append(pa.field(name.strip(), _arrow_type_of_spark(typ)))
        return pa.struct(fields)
    if s.startswith("map<") and s.endswith(">"):
        k, v = _split_top(s[4:-1])
        return pa.map_(_arrow_type_of_spark(k), _arrow_type_of_spark(v))
    if s.startswith("decimal(") and s.endswith(")"):
        p, sc = s[8:-1].split(",")
        return pa.decimal128(int(p), int(sc))
    if s.startswith("time(") and s.endswith(")"):
        # Spark 4.1 TimeType travels over the Arrow bridge as time64[ns]
        # at every precision (observed via DataFrame.toArrow)
        return pa.time64("ns")
    if s == "variant":
        # Spark VariantType's physical storage shape as handed to Python
        # data sources (tests/test_variant.py) — needed wherever a null
        # column of the CURRENT table schema is synthesized (added-column
        # null fill in read_file, mask fill in maintenance.rewrite_encoded)
        return pa.struct([pa.field("value", pa.binary()),
                          pa.field("metadata", pa.binary())])
    raise ValueError(f"unsupported Spark type string: {spark_type!r}")


def _aliases_of(snap: dict | None) -> dict:
    """Rename provenance map (current name -> older chunk names) of a
    snapshot's schema — threaded into every per-file read so projections,
    predicates and keys localize against pre-rename files."""
    return {f["name"]: f["renamed_from"] for f in (snap or {}).get("schema") or []
            if f.get("renamed_from")}


def _local_chunks(footer: dict, names, aliases) -> dict:
    """Current column name -> its chunk meta in one file (first row group),
    resolved through the rename chains in ``aliases``; names the file has no
    chunk for (columns added after it was written) are absent."""
    from webcodec.filefmt import local_names

    chunks = {c["name"]: c for c in (footer.get("groups") or [footer])[0]["chunks"]}
    return {n: chunks[loc] for n, loc in local_names(chunks, names, aliases).items()}


def _file_refs(files: list[dict], table_dir: str) -> list[tuple]:
    """(partition_id, absolute path, absolute delete-sidecar paths) of each
    manifest entry — the descriptor every per-file Spark task receives."""
    return [(f["partition_id"], os.path.join(table_dir, f["path"]),
             tuple(os.path.join(table_dir, d) for d in f.get("delete_files") or ()))
            for f in files]


# (path, sidecars, aliases) -> positions; sidecar files and .wcd files are
# immutable (uuid-suffixed names), so this is safe to reuse across the
# row-range SPLITS of one file a worker processes — the equality-delete kind
# re-decodes the file's key columns otherwise, once per split instead of
# once per file
_DELETE_POS_CACHE: dict = {}


def cached_delete_positions(path: str, delete_paths, data=None, aliases=None,
                            encryption_key: bytes | None = None):
    if not delete_paths:
        return None
    import hashlib as _hashlib
    import json as _json

    # the key's sha256 (not the key) enters the cache key so two reads of the
    # same file under different keys never alias
    kh = (_hashlib.sha256(encryption_key).hexdigest()[:16]
          if encryption_key else "")
    key = (path, tuple(delete_paths),
           _json.dumps(aliases or {}, sort_keys=True), kh)
    if key not in _DELETE_POS_CACHE:
        while len(_DELETE_POS_CACHE) >= 16:
            # evict oldest (insertion order) instead of clearing wholesale:
            # a worker cycling >16 (file, sidecar) pairs would otherwise
            # thrash the equality-delete key decode this cache exists to avoid
            _DELETE_POS_CACHE.pop(next(iter(_DELETE_POS_CACHE)))
        _DELETE_POS_CACHE[key] = load_delete_positions(
            delete_paths, data if data is not None else path, aliases=aliases,
            encryption_key=encryption_key,
        )
    return _DELETE_POS_CACHE[key]


def load_delete_positions(delete_paths, data=None, aliases=None,
                          encryption_key: bytes | None = None) -> "np.ndarray | None":
    """Union of merge-on-read delete sidecars as GLOBAL physical row
    positions of one data file — executor-side.

    Two sidecar kinds (Iceberg v2 delete-file analogues):
    - positional (``*.bin``): sorted int64 little-endian raw bytes, one
      position per 8 bytes — O(deleted rows) to load;
    - equality (a parquet file or directory of parquet parts): the
      sidecar's SCHEMA names the key columns; the data file's key columns
      are decoded and every row whose key appears in the sidecar is dropped
      (the read-time key-decode is the known equality-delete trade for the
      O(1) write). Requires ``data`` — the ``.wcd`` path or its bytes.
    """
    import numpy as np

    if not delete_paths:
        return None
    parts = []
    eq_paths = []
    for p in delete_paths:
        if p.endswith(".bin"):
            with open(p, "rb") as f:
                parts.append(np.frombuffer(f.read(), dtype="<i8"))
        else:
            eq_paths.append(p)
    if eq_paths:
        import pyarrow.parquet as pq

        from webcodec import filefmt

        if data is None:
            raise ValueError(
                "equality-delete sidecars need the data file (path or bytes)"
            )
        footer = (filefmt.read_footer_path(data, encryption_key)
                  if isinstance(data, str)
                  else filefmt.read_footer(memoryview(data), encryption_key))
        for p in eq_paths:
            keys = pq.read_table(p).to_pandas().drop_duplicates()
            kcols = list(keys.columns)
            # renamed key columns: read this file's local chunk names; a key
            # column with no chunk here (added later) can never match
            local = _local_chunks(footer, kcols, aliases)
            if len(local) != len(kcols):
                continue
            fk = filefmt.read_table(
                data, columns=[local[k]["name"] for k in kcols], verify_crc=False,
                encryption_key=encryption_key,
            ).to_pandas()
            fk.columns = kcols
            fk["__pos"] = np.arange(len(fk), dtype="<i8")
            hit = fk.merge(keys, on=kcols, how="inner")["__pos"].to_numpy()
            if len(hit):
                parts.append(hit.astype("<i8"))
    return np.unique(np.concatenate(parts)) if parts else None


def read_file(path: str, want: list[str], types: dict[str, str],
              predicate=None, row_range: tuple[int, int] | None = None,
              delete_paths=(), aliases=None,
              encryption_key: bytes | None = None) -> pa.Table:
    """One data file as its snapshot sees it — the executor-side read of
    every Spark job (``read_encoded``, the DataSource readers,
    ``rewrite_encoded``, ``export_parquet``). Iceberg schema-evolution
    semantics: columns RENAMED after the file was written decode from their
    old chunk name (``aliases`` maps current name -> older names, newest
    last; predicate terms translate to the file-local name too), columns
    added after it decode as typed nulls (``types``: current name -> Spark
    type string), and columns the table widened promote losslessly. The
    result holds exactly the ``want`` columns under their current names;
    ``want=[]`` decodes only the predicate's columns and still carries the
    surviving row count.
    ``row_range`` restricts decode to a half-open row slice (intra-file
    parallelism; page-level skip keeps IO proportional to the slice) and
    ``delete_paths`` are the merge-on-read sidecars to subtract.
    Timestamps keep their written unit: only the Spark boundary truncates
    them (:func:`_normalize_ts_for_spark`)."""
    from webcodec import filefmt
    from webcodec import predicate as predmod

    with open(path, "rb") as f:
        data = f.read()
    conj = predmod.normalize(predicate) or []
    local = _local_chunks(filefmt.read_footer(memoryview(data), encryption_key),
                          [*want, *(c for c, _, _ in conj)], aliases)
    name = {n: c["name"] for n, c in local.items()}
    t = filefmt.read_table(
        data, columns=[name[n] for n in want if n in name],
        predicate=[(name.get(c, c), op, v) for c, op, v in conj] or None,
        row_range=row_range,
        drop_rows=cached_delete_positions(path, delete_paths, data,
                                          aliases=aliases,
                                          encryption_key=encryption_key),
        encryption_key=encryption_key)
    out = t.select([])
    for n in want:
        out = out.append_column(n, t.column(name[n]) if n in name else pa.nulls(
            t.num_rows, type=_arrow_type_of_spark(types.get(n, "string"))))
    return _promote_for_evolution(out, types)


def _promote_for_evolution(t: pa.Table, types: dict[str, str]) -> pa.Table:
    """Iceberg-safe type promotion on read: a file written before the table
    schema widened a column (int -> bigint, smallint -> int, float ->
    double) decodes at its written type and is promoted here — lossless by
    construction (wider signed int, or float32 -> float64)."""
    for i, f in enumerate(t.schema):
        spark_t = types.get(f.name)
        if spark_t is None:
            continue
        try:
            tgt = _arrow_type_of_spark(spark_t)
        except Exception:
            continue
        if tgt is None or f.type.equals(tgt):
            continue
        ok = (
            pa.types.is_integer(f.type)
            and pa.types.is_signed_integer(tgt)
            and tgt.bit_width > f.type.bit_width
        ) or (pa.types.is_float32(f.type) and pa.types.is_float64(tgt))
        if ok:
            t = t.set_column(i, t.schema.field(i).with_type(tgt),
                             t.column(i).cast(tgt))
    return t


def _normalize_ts_for_spark(t: pa.Table) -> pa.Table:
    """Spark's Arrow ingest only accepts MICROSECOND timestamps; files
    encoded from ns sources (e.g. pyarrow reading Spark's own INT96 output)
    round-trip bit-identical as ns and get truncated to us only at this
    Spark boundary — exactly what Spark's native parquet reader does."""
    casts = {
        i: pa.timestamp("us", tz=f.type.tz)
        for i, f in enumerate(t.schema)
        if pa.types.is_timestamp(f.type) and f.type.unit != "us"
    }
    for i, typ in casts.items():
        t = t.set_column(
            i, t.schema.field(i).with_type(typ),
            t.column(i).cast(typ, safe=False),
        )
    return t


def plan_decode_splits(
    files: list[dict], table_dir: str, target_split_bytes: int = 128 << 20
) -> list[tuple[str, int, int, tuple[str, ...]]]:
    """(path, row_lo, row_hi, delete_paths) decode tasks from MANIFEST stats
    only (the driver never opens data files): one task per
    ~target_split_bytes of compressed data, the intra-file row-range
    analogue of spark.sql.files.maxPartitionBytes. (-1, -1) = whole file.
    ``delete_paths`` are the file's merge-on-read positional-delete sidecars
    (absolute paths; executors load and subtract them). Shared by the job
    API and the DataSource reader so a table of few huge files parallelizes
    identically through both."""
    splits: list[tuple[str, int, int, tuple[str, ...]]] = []
    for f, (_, path, dels) in zip(files, _file_refs(files, table_dir)):
        rows = int(f.get("rows") or 0)
        cbytes = int(f.get("compressed_bytes") or 0)
        n = max(1, -(-cbytes // target_split_bytes)) if rows else 1
        if n == 1:
            splits.append((path, -1, -1, dels))
        else:
            per = -(-rows // n)
            splits.extend(
                (path, lo, min(lo + per, rows), dels) for lo in range(0, rows, per)
            )
    return splits


def read_encoded(
    spark: SparkSession,
    table_dir: str,
    columns: list[str] | None = None,
    predicate: tuple[str, str, object] | list[tuple] | None = None,
    batch_rows: int = 8_192,
    snapshot_id: int | None = None,
    target_split_bytes: int = 128 << 20,
    encryption_key: bytes | None = None,
) -> DataFrame:
    """Scan a webcodec snapshot table as a DataFrame.

    ``predicate`` is a (col, op, value) term or a conjunct list of them
    (webcodec.predicate algebra: comparisons, in, isnull/notnull,
    startswith) — pruned at file, bloom/dict, and page level, then applied
    exactly as a residual. ``snapshot_id`` time-travels to an older
    (immutable) snapshot of the table. Large files split into row-range
    tasks of ~target_split_bytes compressed (same planner as the
    DataSource), so parallelism tracks data size, not file count."""
    tbl = SnapshotTable(table_dir)
    snap = tbl.read_snapshot(snapshot_id)
    if snap is None:
        raise FileNotFoundError(f"no snapshot in {table_dir}")
    files = tbl.data_files(predicate, snapshot_id=snapshot_id)
    if columns is not None:
        known = {f["name"] for f in snap["schema"]}
        missing = [c for c in columns if c not in known]
        if missing:
            raise KeyError(
                f"column(s) {missing} not in table schema "
                f"{sorted(known)} — silently dropping them would surface as "
                "a confusing unresolved-column error downstream"
            )
    ddl = _schema_ddl(snap["schema"], columns)
    want = [f["name"] for f in snap["schema"] if columns is None or f["name"] in columns]
    if columns is not None:
        want.sort(key=lambda n: columns.index(n))
    types = {f["name"]: f["type"] for f in snap["schema"]}
    splits = plan_decode_splits(files, table_dir, target_split_bytes)
    if not splits:
        return spark.createDataFrame([], ddl)
    # one range partition per split; descriptors ship via broadcast (no
    # driver-side row serialization, no repartition exchange — the fixed job
    # floor is ~3x lower than createDataFrame+repartition on local mode and
    # the pattern is exactly how a 100-TB listing should ship anyway)
    bc = spark.sparkContext.broadcast(splits)

    aliases = _aliases_of(snap)

    def decode_fn(batches):
        sps = bc.value
        for b in batches:
            for i in b.column("id").to_pylist():
                path, lo, hi, dels = sps[i]
                t = read_file(path, want, types, predicate,
                              (lo, hi) if lo >= 0 else None, dels, aliases,
                              encryption_key)
                yield from _normalize_ts_for_spark(t).to_batches(batch_rows)

    pdf = spark.range(0, len(splits), 1, len(splits))
    return pdf.mapInArrow(decode_fn, ddl)


def verify_roundtrip(
    spark: SparkSession, source_df: DataFrame, table_dir: str, key_cols: list[str]
) -> dict:
    """Round-trip oracle (SURVEY.md §5.3 layer 5): decoded table must equal the
    source, order-insensitively, including byte-identity of every column.

    Implemented as an exceptAll in both directions (null-safe, exact). Map
    columns are folded through to_json first — Spark forbids set operations
    on map types (round-trip preserves entry order, so to_json is exact)."""
    decoded = read_encoded(spark, table_dir, columns=source_df.columns)
    map_cols = {f.name for f in source_df.schema.fields
                if f.dataType.typeName() == "map"}
    if map_cols:
        sel = [F.to_json(c).alias(c) if c in map_cols else F.col(c)
               for c in source_df.columns]
        source_df, decoded = source_df.select(*sel), decoded.select(*sel)
    a_minus_b = source_df.exceptAll(decoded).count()
    b_minus_a = decoded.exceptAll(source_df).count()
    return {
        "source_rows": source_df.count(),
        "decoded_rows": decoded.count(),
        "missing": a_minus_b,
        "extra": b_minus_a,
        "ok": a_minus_b == 0 and b_minus_a == 0,
    }
