"""Driver contract for the spark-graft builder (PySpark target).

Every ``queries()`` entry exercises one operator family from SURVEY.md §2
through the real engine (encode -> .wcd pages -> decode), and its
``oracle_sql()`` twin expresses the same result directly over the source
parquet in DuckDB SQL. A hash match therefore proves the engine round-trips
bit-identically (north_star invariant) — the decode output IS the query input.

Numeric outputs are quantized to BIGINT via order-independent per-row integer
ops (floor(x*K+0.5)) so Spark and DuckDB hash identically regardless of
float formatting or aggregation order.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession, functions as F


# ---------------------------------------------------------------------------
# plumbing
# ---------------------------------------------------------------------------


def _ensure_pyfiles(spark: SparkSession) -> None:
    """Ship the webcodec package to executors (works for any driver session)."""
    sc = spark.sparkContext
    if getattr(sc, "_webcodec_shipped", False):
        return
    zip_path = os.path.join(_REPO, "webcodec.zip")
    pkg = os.path.join(_REPO, "webcodec")
    sources = [
        os.path.join(root, fn)
        for root, _dirs, files in os.walk(pkg)
        for fn in files if fn.endswith(".py")
    ]
    # rebuild when ANY package source is newer than the zip — a stale zip
    # ships stale kernels to executors silently (this trap bit once)
    stale = (
        not os.path.exists(zip_path)
        or max(os.path.getmtime(p) for p in sources) > os.path.getmtime(zip_path)
    )
    if stale:
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for full in sources:
                zf.write(full, os.path.relpath(full, _REPO))
    try:
        sc.addPyFile(zip_path)
    except Exception:
        pass  # already registered (same content) — fine
    sc._webcodec_shipped = True


def _prep(spark: SparkSession) -> None:
    _ensure_pyfiles(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Spark 4 refuses a Python DataSource that defines pushFilters unless
    # this is on; runtime-settable, required for the format("webcodec") queries
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # right-size shuffles for the sf-test harness (the 200 default adds ~10ms
    # of task overhead per partition to every tiny groupBy/join stage; at
    # production scale this is a deploy-time knob, not a code constant)
    spark.conf.set("spark.sql.shuffle.partitions", "32")


def _encode_decode(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    url_col: str | None = None,
    sort_key: str | None = None,
    num_partitions: int = 4,
    columns: list[str] | None = None,
    predicate: tuple[str, str, object] | None = None,
) -> DataFrame:
    """Encode a source parquet table into a webcodec snapshot table in a temp
    dir, then scan it back. The returned DataFrame is the engine's decode
    output — the oracle compares it against the raw source."""
    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table

    _prep(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
    out = tempfile.mkdtemp(prefix=f"wcq_{table}_")
    encode_table(
        df,
        os.path.join(out, "t"),
        url_col=url_col,
        sort_key=sort_key,
        num_partitions=num_partitions,
        write_metrics=False,
    )
    return read_encoded(spark, os.path.join(out, "t"), columns=columns, predicate=predicate)


def _src(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    _prep(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


# quantizers: per-row, order-independent, bit-identical across engines
def _q100(c):  # double -> cents as BIGINT
    return F.floor(c * F.lit(100.0) + F.lit(0.5)).cast("long")


# ---------------------------------------------------------------------------
# queries — each returns the engine's output for one operator family
# ---------------------------------------------------------------------------


def _rt_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full round-trip of `documents` (dict/FSST/delta-length string paths,
    FOR+delta ints). SURVEY.md §2 A6/A8/A9/A12, C2-C5, D7."""
    return _encode_decode(spark, sf_dir, "documents", sort_key="doc_id").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def _rt_encrypted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12 modular encryption round-trip: documents encoded with per-page
    AES-GCM (nonce||ct||tag payloads, AAD binds file/chunk/page identity)
    and a GCM-signed plaintext footer (webcodec/crypto.py — parquet modular
    encryption analogue, plaintext-footer mode). Decode with the key must be
    bit-identical to the plaintext pipeline; a keyless read raises with the
    footer's key_id."""
    from webcodec.config import EncoderConfig
    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table

    _prep(spark)
    key = bytes(range(32))
    df = _src(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="wcq_enc_")
    encode_table(df, os.path.join(out, "t"),
                 EncoderConfig(encryption_key=key, encryption_key_id="test-key"),
                 sort_key="doc_id", write_metrics=False)
    back = read_encoded(spark, os.path.join(out, "t"), encryption_key=key)
    return back.select("doc_id", "text", "lang", "source", "n_chars")


def _rt_encrypted_footer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12 ENCRYPTED-FOOTER mode (r4, parquet EF analogue): the whole footer
    — schema, chunk layout, stats, blooms — is GCM-encrypted under the file
    DEK; a keyless read reveals only algorithm + key_id
    (webcodec/crypto.py encrypt_footer_blob, filefmt._wrap_footer_for_disk).
    Decode with the key must still be bit-identical to plaintext."""
    from webcodec.config import EncoderConfig
    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table

    _prep(spark)
    key = bytes(range(32))
    df = _src(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="wcq_encf_")
    encode_table(df, os.path.join(out, "t"),
                 EncoderConfig(encryption_key=key, encryption_key_id="test-key",
                               encryption_footer_mode="encrypted"),
                 sort_key="doc_id", write_metrics=False)
    back = read_encoded(spark, os.path.join(out, "t"), encryption_key=key)
    return back.select("doc_id", "text", "lang", "source", "n_chars")


def _rt_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip of `events`: timestamp[us] FOR+delta (A8), double BSS (A11),
    low-cardinality dict+RLE (A6+A3)."""
    df = _encode_decode(spark, sf_dir, "events", sort_key="event_id")
    return df.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
        "event_type",
        _q100(F.col("value")).alias("value_c"),
        "props",
    )


def _rt_lineitem_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregate over the round-tripped `lineitem` — proves
    numeric columns decode bit-identically under a real aggregation plan.
    Projection is pushed into the engine scan (columns=): Catalyst cannot
    see through mapInArrow, so the decode call itself must prune (plan
    audit: without this the scan decoded all 11 columns for a 5-column agg)."""
    df = _encode_decode(
        spark, sf_dir, "lineitem", sort_key="l_orderkey", num_partitions=8,
        columns=["l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount"],
    )
    return (
        df.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(_q100(F.col("l_extendedprice"))).alias("sum_price_c"),
            F.sum(_q100(F.col("l_discount"))).alias("sum_disc_c"),
        )
    )


def _rt_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join two independently round-tripped tables (lineitem x orders) —
    Catalyst plans the join over our decoded leaves (SURVEY.md §2.H)."""
    li = _encode_decode(spark, sf_dir, "lineitem", sort_key="l_orderkey", num_partitions=8,
                        columns=["l_orderkey", "l_quantity"])
    orders = _encode_decode(spark, sf_dir, "orders", sort_key="o_orderkey", num_partitions=4,
                            columns=["o_orderkey", "o_orderpriority"])
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
    )


def _rt_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip of `embeddings` (list<float> via delta lengths + BSS child,
    A8+A11); checksum folds every element exactly (float->double widening)."""
    df = _encode_decode(spark, sf_dir, "embeddings", sort_key="vec_id")
    chk = F.aggregate(
        F.transform(F.col("embedding"), lambda x: F.floor(x.cast("double") * F.lit(1000.0)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        chk.alias("emb_chk"),
        "label",
    )


def _rt_list_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic list<string> column through the ENGINE: documents.text is
    tokenized to array<string> Spark-side, encoded via scan mode (lengths
    FOR+delta + child validity + delta-length strings), decoded, and
    re-joined — md5(rejoined) must equal md5(text), proving the list
    round-trip bit-exactly."""
    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table

    _prep(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    words = df.select("doc_id", F.split(F.col("text"), " ").alias("words"))
    out = tempfile.mkdtemp(prefix="wcq_listwords_")
    encode_table(words, os.path.join(out, "t"), sort_key="doc_id", mode="scan",
                 write_metrics=False)
    back = read_encoded(spark, os.path.join(out, "t"))
    return back.select(
        "doc_id",
        F.size("words").cast("long").alias("n_words"),
        F.md5(F.concat_ws(" ", F.col("words"))).alias("rejoined_md5"),
    )


def _rt_export_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full interop loop: documents -> webcodec pages -> decoded with our
    kernels -> re-serialized as STANDARD parquet by our own parquet writer
    (webcodec/parquet_writer.py: thrift + v1 pages + spec RLE levels) ->
    read back by Spark's reference parquet reader. A hash match proves
    byte-format parity in both directions inside the driver contract."""
    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import export_parquet

    _prep(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = tempfile.mkdtemp(prefix="wcq_export_")
    encode_table(df, os.path.join(out, "t"), sort_key="doc_id", write_metrics=False)
    export_parquet(spark, os.path.join(out, "t"), os.path.join(out, "pq"))
    back = spark.read.parquet(os.path.join(out, "pq"))
    return back.select("doc_id", "text", "lang", "source", "n_chars")


def _rt_export_parquet_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA_PAGE_V2 interop loop (r5): same pipeline as rt_export_parquet
    but the export emits v2 data pages (uncompressed level regions,
    RLE_DICTIONARY pairing) and forces DELTA_BYTE_ARRAY on the sorted
    doc-text column and DELTA_LENGTH_BYTE_ARRAY on source — the reference
    v2 writer's string encodings, emitted by our prefix/delta kernels
    (webcodec/parquet_writer.py _dba_bytes/_dlba_bytes) — then Spark's
    reference reader decodes it all back."""
    from webcodec.parquet_writer import write_parquet
    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import export_parquet

    _prep(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = tempfile.mkdtemp(prefix="wcq_exp2_")
    encode_table(df, os.path.join(out, "t"), sort_key="doc_id", write_metrics=False)
    export_parquet(spark, os.path.join(out, "t"), os.path.join(out, "pq"),
                   data_page_version=2)
    # re-export one decoded slice with forced string deltas to pin the
    # DBA/DLBA write path inside the driver contract too
    from webcodec import filefmt
    data_dir = os.path.join(out, "t", "data")
    first = sorted(f for f in os.listdir(data_dir) if f.endswith(".wcd"))[0]
    t0 = filefmt.read_table(os.path.join(data_dir, first))
    write_parquet(t0, os.path.join(out, "pq", "part-dba.parquet"),
                  data_page_version=2,
                  column_encoding={"text": "delta_byte_array",
                                   "source": "delta_length_byte_array"})
    back = spark.read.parquet(os.path.join(out, "pq"))
    # the extra DBA file duplicates its slice: dedupe by doc_id for the oracle
    return (back.groupBy("doc_id")
            .agg(F.first("text").alias("text"), F.first("lang").alias("lang"),
                 F.first("source").alias("source"),
                 F.first("n_chars").alias("n_chars")))


def _rt_export_parquet_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested/decimal interop loop (r4): a table with list<string>,
    struct<string,long> and decimal(20,2) columns round-trips webcodec ->
    export_parquet (our writer emits Dremel rep/def levels for the 3-level
    LIST groups, per-leaf def levels for the struct, FLBA(16) big-endian
    decimals — webcodec/parquet_writer.py) -> Spark's reference parquet
    reader. Output projects to scalars for the oracle hash."""
    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import export_parquet

    _prep(spark)
    df = _src(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 5 != 2,
               F.slice(F.split(F.col("text"), " "), 1, 3)).alias("words"),
        F.when(F.col("doc_id") % 7 != 3,
               F.struct(F.col("lang").alias("l"),
                        F.col("n_chars").alias("n"))).alias("meta"),
        F.expr("CAST(n_chars + 0.25 AS DECIMAL(20,2))").alias("dec"),
    )
    out = tempfile.mkdtemp(prefix="wcq_expn_")
    encode_table(df, os.path.join(out, "t"), sort_key="doc_id",
                 write_metrics=False)
    export_parquet(spark, os.path.join(out, "t"), os.path.join(out, "pq"))
    back = spark.read.parquet(os.path.join(out, "pq"))
    return back.select(
        "doc_id",
        F.when(F.col("words").isNull(), F.lit(None).cast("string"))
         .otherwise(F.array_join(F.col("words"), "|")).alias("words_joined"),
        F.when(F.col("words").isNull(), F.lit(-1))
         .otherwise(F.size(F.col("words"))).cast("long").alias("n_words"),
        F.col("meta.l").alias("lang"),
        F.col("meta.n").cast("long").alias("n"),
        F.col("meta").isNull().cast("int").alias("meta_null"),
        F.expr("CAST(dec * 100 AS BIGINT)").alias("dec_c"),
    )


def _rt_export_parquet_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep/map nested interop loop (r5): map<string,string> and
    list<struct<w,p>> columns round-trip webcodec -> export_parquet (the
    arbitrary-depth Dremel shredder: MAP key_value groups with required
    keys, rep/def levels through list-of-struct) -> Spark's reference
    parquet reader. Output projects to scalars for the oracle hash."""
    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import export_parquet

    _prep(spark)
    df = _src(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 11 != 4,
               F.create_map(F.lit("lang"), F.col("lang"),
                            F.lit("len"), F.col("n_chars").cast("string"))
               ).alias("kv"),
        F.when(F.col("doc_id") % 5 != 2, F.expr(
            "transform(slice(split(text, ' '), 1, 2), w -> struct(w AS w, length(w) AS p))"
        )).alias("ls"),
    )
    out = tempfile.mkdtemp(prefix="wcq_expd_")
    encode_table(df, os.path.join(out, "t"), sort_key="doc_id",
                 write_metrics=False)
    export_parquet(spark, os.path.join(out, "t"), os.path.join(out, "pq"))
    back = spark.read.parquet(os.path.join(out, "pq"))
    return back.select(
        "doc_id",
        F.col("kv").getItem("lang").alias("kv_lang"),
        F.col("kv").getItem("len").cast("long").alias("kv_len"),
        F.col("kv").isNull().cast("int").alias("kv_null"),
        F.when(F.col("ls").isNull(), F.lit(-1))
         .otherwise(F.size(F.col("ls"))).cast("long").alias("n_ls"),
        F.when(F.col("ls").isNull(), F.lit(None).cast("string"))
         .otherwise(F.expr("array_join(transform(ls, s -> s.w), '|')"))
         .alias("ws_joined"),
        F.when(F.col("ls").isNull(), F.lit(None).cast("long"))
         .otherwise(F.expr("aggregate(transform(ls, s -> CAST(s.p AS BIGINT)), CAST(0 AS BIGINT), (a, x) -> a + x)"))
         .alias("p_sum"),
    )


def _rt_import_parquet_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference -> webcodec nested interop (r5, the inverse of
    rt_export_parquet_nested/_deep): each task builds nested arrow columns
    (list<string>, struct, map<string,string>) from its document rows,
    writes them with the REFERENCE writer (pyarrow, v2 pages), then
    reassembles every column with webcodec's own Dremel assembly
    (parquet_interop.read_table_arrow_native — our RLE/bit-pack/level
    kernels, no pyarrow decode) and emits oracle-checkable scalars.
    Per-task temp files, zero JVM transfer of the nested payload."""
    _prep(spark)
    df = _src(spark, sf_dir, "documents").select("doc_id", "text", "lang",
                                                 "n_chars")

    def rt(batches):
        import os as _os
        import tempfile as _tf

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from webcodec.parquet_interop import read_table_arrow_native

        for b in batches:
            ids = b.column("doc_id").to_pylist()
            texts = b.column("text").to_pylist()
            langs = b.column("lang").to_pylist()
            ncs = b.column("n_chars").to_pylist()
            words = [None if d % 5 == 2 else (t or "").split(" ")[:3]
                     for d, t in zip(ids, texts)]
            meta = [None if d % 7 == 3 else {"l": lg, "n": int(nc)}
                    for d, lg, nc in zip(ids, langs, ncs)]
            kv = [None if d % 11 == 4 else
                  [("lang", lg), ("len", str(int(nc)))]
                  for d, lg, nc in zip(ids, langs, ncs)]
            t = pa.table({
                "doc_id": pa.array(ids, pa.int64()),
                "words": pa.array(words, pa.list_(pa.string())),
                "meta": pa.array(meta, pa.struct([("l", pa.string()),
                                                  ("n", pa.int64())])),
                "kv": pa.array(kv, pa.map_(pa.string(), pa.string())),
            })
            fd, path = _tf.mkstemp(suffix=".parquet")
            _os.close(fd)
            try:
                pq.write_table(t, path, data_page_version="2.0",
                               compression="zstd")
                back = read_table_arrow_native(path)
                got = {c: back.column(c).combine_chunks()
                       for c in t.column_names}
            finally:
                _os.remove(path)
            w = got["words"]
            kvl = got["kv"].cast(pa.list_(pa.struct(
                [pa.field("key", pa.string(), nullable=False),
                 ("value", pa.string())])))
            kv_lang = [None if m is None else dict(m).get("lang")
                       for m in got["kv"].to_pylist()]
            yield pa.RecordBatch.from_pydict({
                "doc_id": got["doc_id"],
                "words_joined": pa.array(
                    [None if x is None else "|".join(x)
                     for x in w.to_pylist()], pa.string()),
                "n_words": pc.fill_null(
                    pc.list_value_length(w).cast(pa.int64()), -1),
                "lang": pc.struct_field(got["meta"], "l"),
                "n": pc.struct_field(got["meta"], "n"),
                "kv_lang": pa.array(kv_lang, pa.string()),
                "n_kv": pc.fill_null(
                    pc.list_value_length(kvl).cast(pa.int64()), -1),
            })

    return df.mapInArrow(
        rt, "doc_id long, words_joined string, n_words long, lang string, "
            "n long, kv_lang string, n_kv long")


def _rt_import_parquet_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interop predicate pushdown through the driver gate (r5): each task
    writes its document rows as a REFERENCE parquet file (pyarrow; small
    PLAIN pages, row groups and page indexes so both pruning tiers have
    something to skip), then reads it back with
    parquet_interop.read_table_arrow_native(filters=...) — chunk-Statistics
    row-group pruning, ColumnIndex/OffsetIndex page-selective decode and
    the exact residual filter all run inside the task — and emits the
    surviving rows. The union across tasks equals a plain SQL WHERE over
    the table, which is exactly what the oracle checks."""
    _prep(spark)
    df = _src(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")

    def rt(batches):
        import os as _os
        import tempfile as _tf

        import pyarrow as pa
        import pyarrow.parquet as pq

        from webcodec.parquet_interop import read_table_arrow_native

        for b in batches:
            t = pa.Table.from_batches([b])
            fd, path = _tf.mkstemp(suffix=".parquet")
            _os.close(fd)
            try:
                pq.write_table(t, path, row_group_size=128,
                               data_page_size=1024, write_page_index=True,
                               use_dictionary=False, compression="zstd")
                got = read_table_arrow_native(
                    path, ["doc_id", "lang"],
                    filters=[("lang", "in", ["en", "de"]),
                             ("n_chars", ">", 320)])
            finally:
                _os.remove(path)
            yield from got.to_batches()

    return df.mapInArrow(rt, "doc_id long, lang string")


def _rt_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOMETRY/GEOGRAPHY logical annotations (r5, parquet-format
    Geospatial.md): each task plants WKB points deterministically from its
    document rows, writes a GEOMETRY(OGC:CRS84)-annotated parquet file with
    webcodec's own writer (parquet_writer.write_parquet geometry_columns),
    re-reads it with the native interop reader (read_table_arrow_native +
    read_footer_native — our thrift parser surfaces the annotation), and
    emits the coordinates parsed back OUT of the returned WKB bytes plus
    the annotation kind/crs. The oracle recomputes the plant analytically,
    so a hash match proves bytes AND annotation survive the file."""
    _prep(spark)
    df = _src(spark, sf_dir, "documents").select("doc_id")

    def rt(batches):
        import os as _os
        import struct as _struct
        import tempfile as _tf

        import numpy as np
        import pyarrow as pa

        from webcodec.parquet_interop import (read_footer_native,
                                              read_table_arrow_native)
        from webcodec.parquet_writer import write_parquet

        for b in batches:
            ids = b.column("doc_id").to_numpy(zero_copy_only=False)
            xs = (ids % 360 - 180).astype(np.float64) + 0.5
            ys = (ids % 180 - 90).astype(np.float64) + 0.25
            geoms = [
                None if int(d) % 7 == 3
                else _struct.pack("<BIdd", 1, 1, float(x), float(y))
                for d, x, y in zip(ids, xs, ys)
            ]
            t = pa.table({"doc_id": pa.array(ids, pa.int64()),
                          "geom": pa.array(geoms, pa.binary())})
            fd, path = _tf.mkstemp(suffix=".parquet")
            _os.close(fd)
            try:
                write_parquet(t, path,
                              geometry_columns={"geom": "OGC:CRS84"})
                back = read_table_arrow_native(path).combine_chunks()
                ft = read_footer_native(path)
            finally:
                _os.remove(path)
            geo = next(l["geo"] for l in ft["leaves"] if "geo" in l)
            wkb = back.column("geom").to_pylist()
            xc, yc, ln = [], [], []
            for w in wkb:
                if w is None:
                    xc.append(None); yc.append(None); ln.append(-1)
                else:
                    _, _, x, y = _struct.unpack("<BIdd", w)
                    xc.append(int(round(x * 100)))
                    yc.append(int(round(y * 100)))
                    ln.append(len(w))
            yield pa.RecordBatch.from_pydict({
                "doc_id": back.column("doc_id").chunk(0)
                if back.column("doc_id").num_chunks
                else pa.array([], pa.int64()),
                "x_c": pa.array(xc, pa.int64()),
                "y_c": pa.array(yc, pa.int64()),
                "wkb_len": pa.array(ln, pa.int64()),
                "geo_kind": pa.array([geo["kind"]] * len(wkb), pa.string()),
                "crs": pa.array([geo["crs"]] * len(wkb), pa.string()),
            })

    return df.mapInArrow(
        rt, "doc_id long, x_c long, y_c long, wkb_len long, "
            "geo_kind string, crs string")


def _scan_prune_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate pushdown through the engine's read path: only
    (doc_id, lang) pages are decoded, files pruned via manifest min/max (D2/D6)."""
    df = _encode_decode(
        spark,
        sf_dir,
        "documents",
        sort_key="lang",
        columns=["doc_id", "lang"],
        predicate=("lang", "==", "en"),
    )
    return df.filter(F.col("lang") == "en")  # residual — exact regardless of stats


def _stats_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer statistics (C6): min/max/rows aggregated from the snapshot
    manifest, no data decode at all — must match the raw table."""
    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.table import SnapshotTable

    _prep(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = tempfile.mkdtemp(prefix="wcq_stats_")
    encode_table(df, os.path.join(out, "t"), num_partitions=4, write_metrics=False)
    snap = SnapshotTable(os.path.join(out, "t")).read_snapshot()
    mins, maxs, rows = [], [], 0
    for f in snap["files"]:
        st = f["column_stats"]["n_chars"]
        mins.append(st["min"])
        maxs.append(st["max"])
        rows += f["rows"]
    return spark.createDataFrame(
        [(int(min(mins)), int(max(maxs)), int(rows))],
        "min_nchars long, max_nchars long, total_rows long",
    )


def _rt_documents_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through byte-level compaction (C10): encode to many small
    files, merge them WITHOUT re-encoding, decode the multi-group result."""
    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import compact

    _prep(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = tempfile.mkdtemp(prefix="wcq_compact_")
    # six scan partitions -> six small files, so the merge actually
    # exercises the multi-group byte-append path
    encode_table(df.repartition(6), os.path.join(out, "t"), write_metrics=False)
    compact(os.path.join(out, "t"), target_bytes=1 << 30)
    return read_encoded(spark, os.path.join(out, "t")).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def _scan_bloom_miss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-level pruning (C8/D2): equality on a value absent from the table
    skips all decode; the residual filter keeps semantics exact."""
    df = _encode_decode(
        spark,
        sf_dir,
        "documents",
        sort_key="doc_id",
        columns=["doc_id", "lang"],
        predicate=("lang", "==", "zz"),
    )
    return df.filter(F.col("lang") == "zz")


def _scan_ts_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided timestamp range (the canonical time-partitioned-crawl scan
    predicate, ts >= a AND ts < b) through the DataSource pushFilters path:
    both conjuncts are pushed down to manifest/bloom/page pruning (D4), then
    re-applied by Catalyst — exact regardless of stats precision."""
    import datetime as _dt

    from webcodec.spark.datasource import WebcodecDataSource
    from webcodec.spark.encode_job import encode_table

    _prep(spark)
    spark.dataSource.register(WebcodecDataSource)
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = tempfile.mkdtemp(prefix="wcq_tsrange_")
    encode_table(df, os.path.join(out, "t"), sort_key="ts", write_metrics=False)
    # pushdown is opt-in (Spark 4.1 shared-relation readInfo-poisoning bug,
    # see WebcodecPushdownReader); safe here: fresh load, one filter shape
    back = (spark.read.format("webcodec").option("path", os.path.join(out, "t"))
            .option("pushdown", "true").load())
    lo = _dt.datetime(2024, 1, 10)
    hi = _dt.datetime(2024, 1, 13)
    sel = back.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
    return sel.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
        "event_type",
    )


def _scan_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering (r3, Iceberg/Delta OPTIMIZE ZORDER analogue):
    ``sort_key="zorder(ts,user_id)"`` orders rows along a Morton curve over
    rank-quantized (ts, user_id) (webcodec/kernels/zorder.py), so page
    min/max stats stay narrow on BOTH dimensions and this two-dimensional
    probe prunes pages on each — a single-column sort prunes only its own
    column. Exactness is independent of pruning (residual filter re-applies
    the predicate)."""
    import datetime as _dt

    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table

    _prep(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = os.path.join(tempfile.mkdtemp(prefix="wcq_zorder_"), "t")
    encode_table(df, out, sort_key="zorder(ts,user_id)", write_metrics=False)
    back = read_encoded(
        spark, out,
        predicate=[
            ("user_id", ">=", 20), ("user_id", "<", 30),
            ("ts", ">=", _dt.datetime(2024, 1, 10)),
            ("ts", "<", _dt.datetime(2024, 1, 13)),
        ],
    )
    return back.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
        "event_type",
    )


def _scan_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style hidden partitioning (r3): the table is written with
    ``partition_by=["days(ts)", "event_type"]`` — each task fans out into one
    file per (day, type) tuple, no extra shuffle (webcodec/spark/partition.py)
    — and this query's plain predicates on ts/event_type prune files by
    EXACT partition-tuple match before any stats are consulted (the day
    transform rewrites to a [day*86400e6, +1day) interval over ts; identity
    matches the tuple value). Readers never mention partition fields — the
    hidden-partitioning contract. Residual filter re-applies the predicate,
    so the result is exact regardless of pruning."""
    import datetime as _dt

    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table

    _prep(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = tempfile.mkdtemp(prefix="wcq_part_")
    encode_table(df, os.path.join(out, "t"), write_metrics=False,
                 partition_by=["days(ts)", "event_type"])
    back = read_encoded(
        spark,
        os.path.join(out, "t"),
        predicate=[
            ("ts", ">=", _dt.datetime(2024, 1, 10)),
            ("ts", "<", _dt.datetime(2024, 1, 12)),
            ("event_type", "==", "click"),
        ],
    )
    return back.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
        "event_type",
    )


def _rt_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-level struct shredding round-trip through the Spark DataSource
    (SURVEY.md §2 E1 subset): the struct's own validity is a BOOL chunk,
    each child field an ordinary column chunk with independent codec
    selection (dict for `l`, FOR+delta for `n`). Output projects the fields
    back to scalars — the driver canonicalizer can't hash struct cells."""
    from webcodec.spark.datasource import WebcodecDataSource

    _prep(spark)
    spark.dataSource.register(WebcodecDataSource)
    df = _src(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 != 3,
            F.struct(F.col("lang").alias("l"), F.col("n_chars").alias("n")),
        ).alias("meta"),
    )
    out = os.path.join(tempfile.mkdtemp(prefix="wcq_struct_"), "t")
    df.write.format("webcodec").mode("append").option("path", out).save()
    back = spark.read.format("webcodec").option("path", out).load()
    return back.select(
        "doc_id",
        F.col("meta.l").alias("lang"),
        F.col("meta.n").alias("n"),
        F.col("meta").isNull().cast("int").alias("meta_null"),
    )


def _rt_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map column shredding round-trip through the Spark DataSource: parent
    validity BOOL chunk + keys/items as two generic-LIST chunks sharing
    offsets (lengths FOR+delta, independent codec per side). Output folds the
    map to scalars — Spark forbids set ops and the driver canonicalizer
    forbids unhashable cells on map columns."""
    from webcodec.spark.datasource import WebcodecDataSource

    _prep(spark)
    spark.dataSource.register(WebcodecDataSource)
    df = _src(spark, sf_dir, "events").select(
        "event_id",
        F.when(
            F.col("event_id") % 13 != 7, F.from_json("props", "map<string,bigint>")
        ).alias("props_map"),
    )
    out = os.path.join(tempfile.mkdtemp(prefix="wcq_map_"), "t")
    df.write.format("webcodec").mode("append").option("path", out).save()
    back = spark.read.format("webcodec").option("path", out).load()
    return back.select(
        "event_id",
        F.array_join(F.map_keys("props_map"), ",").alias("keys"),
        F.col("props_map")["k"].alias("k_val"),
        F.col("props_map").isNull().cast("int").alias("map_null"),
    )


def _rt_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-repetition-level nesting (E2/E3): array<struct<w,n>> shredded as
    per-field generic-LIST chunks sharing outer offsets. Round-trips through
    the DataSource, then folds to scalars for the driver compare."""
    from webcodec.spark.datasource import WebcodecDataSource

    _prep(spark)
    spark.dataSource.register(WebcodecDataSource)
    words = F.slice(F.split("text", " "), 1, 3)
    df = _src(spark, sf_dir, "documents").select(
        "doc_id",
        F.transform(
            words, lambda w: F.struct(w.alias("w"), F.length(w).alias("n"))
        ).alias("ws"),
    )
    out = os.path.join(tempfile.mkdtemp(prefix="wcq_nested_"), "t")
    df.write.format("webcodec").mode("append").option("path", out).save()
    back = spark.read.format("webcodec").option("path", out).load()
    return back.select(
        "doc_id",
        F.size("ws").alias("n_entries"),
        F.array_join(F.transform("ws", lambda s: s["w"]), "|").alias("joined"),
        F.aggregate(
            F.transform("ws", lambda s: s["n"].cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_sum"),
    )


def _rt_nested_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-depth nesting (E1/E2 full Dremel scope, r3): a
    struct<inner:struct<lg,ln>, tok:array<array<string>>> column — struct-in-
    struct AND a two-repetition-level list inside a struct — stored as
    Dremel leaves (webcodec.dremel.shred, one chunk per leaf), round-tripped
    through the DataSource, then folded to scalars for the driver compare."""
    from webcodec.spark.datasource import WebcodecDataSource

    _prep(spark)
    spark.dataSource.register(WebcodecDataSource)
    words = F.split("text", " ")
    df = _src(spark, sf_dir, "documents").select(
        "doc_id",
        F.struct(
            F.struct(
                F.col("lang").alias("lg"), F.length("text").alias("ln")
            ).alias("inner"),
            F.array(F.slice(words, 1, 2), F.slice(words, 3, 2)).alias("tok"),
        ).alias("meta"),
    )
    out = os.path.join(tempfile.mkdtemp(prefix="wcq_ndeep_"), "t")
    df.write.format("webcodec").mode("append").option("path", out).save()
    back = spark.read.format("webcodec").option("path", out).load()
    return back.select(
        "doc_id",
        F.col("meta.inner.lg").alias("lg"),
        F.col("meta.inner.ln").cast("long").alias("ln"),
        F.array_join(F.flatten("meta.tok"), "|").alias("joined"),
    )


def _rt_decimal_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decimal128 + date32 end-to-end (r3): a DECIMAL(20,3) column built
    exactly from integers (negative + 3-digit scale) and a DATE column
    round-trip through the engine (decimal shreds into two int64 lane
    chunks, webcodec/filefmt.py _encode_decimal_chunks), then fold to
    integer scalars both engines agree on."""
    from webcodec.spark.datasource import WebcodecDataSource

    _prep(spark)
    spark.dataSource.register(WebcodecDataSource)
    df = _src(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "cast(cast((l_orderkey - 3000) * 1000 + l_partkey as decimal(20,0)) / 1000 "
            "as decimal(20,3))"
        ).alias("amt"),
        F.col("l_shipdate").cast("date").alias("ship_d"),
    )
    out = os.path.join(tempfile.mkdtemp(prefix="wcq_dec_"), "t")
    df.write.format("webcodec").mode("append").option("path", out).save()
    back = spark.read.format("webcodec").option("path", out).load()
    return back.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("amt") * 1000).cast("long").alias("amt_milli"),
        (F.year("ship_d") * 10000 + F.month("ship_d") * 100 + F.dayofmonth("ship_d"))
        .cast("long").alias("ship_ymd"),
    )


def _rt_list_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array<decimal(12,2)> end-to-end (NEW r5): list<decimal128> shreds via
    filefmt._encode_list_decimal_chunks — the values' lo/hi int64 lanes ride
    generic-LIST chunks sharing the outer offsets (reference scope:
    parquet-java writes DECIMAL leaves at any nesting depth). Covers null
    lists (every 7th row) and null elements (l_partkey % 5 == 0); values
    built exactly from integers / 100 so both engines agree bit-identically,
    folded back to BIGINT scalars for the hash."""
    from webcodec.spark.datasource import WebcodecDataSource

    _prep(spark)
    spark.dataSource.register(WebcodecDataSource)
    amt0 = F.expr(
        "cast(cast(l_partkey * 100 + l_suppkey % 100 as decimal(12,0)) / 100 "
        "as decimal(12,2))"
    )
    amt1 = F.when(
        F.col("l_partkey") % 5 != 0,
        F.expr("cast(cast(-(l_suppkey * 100 + 13) as decimal(12,0)) / 100 "
               "as decimal(12,2))"),
    )
    df = _src(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_linenumber") % 7 != 0, F.array(amt0, amt1)).alias("amts"),
    )
    out = os.path.join(tempfile.mkdtemp(prefix="wcq_ldec_"), "t")
    df.write.format("webcodec").mode("append").option("path", out).save()
    back = spark.read.format("webcodec").option("path", out).load()
    return back.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce((F.element_at("amts", 1) * 100).cast("long"), F.lit(-1)).alias("a0_cents"),
        F.coalesce((F.element_at("amts", 2) * 100).cast("long"), F.lit(-1)).alias("a1_cents"),
        F.coalesce(F.size("amts").cast("long"), F.lit(-1)).alias("n_amts"),
    )


def _rt_narrow_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tinyint/smallint/float end-to-end (r3): narrow columns derived from
    documents round-trip through the engine, which stores them WIDENED
    (parquet's INT_8-annotation-over-INT32 stance; webcodec/types.py
    ``widened``) and restores the exact Spark type on decode; folded to
    BIGINT for the cross-engine hash (float values are integer-exact here,
    so truncate == round)."""
    from webcodec.spark.datasource import WebcodecDataSource

    _prep(spark)
    spark.dataSource.register(WebcodecDataSource)
    df = _src(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 100 - 50).cast("tinyint").alias("b"),
        (F.col("n_chars") % 30000 - 15000).cast("smallint").alias("s"),
        (F.col("n_chars") % 1000).cast("float").alias("f"),
    )
    out = os.path.join(tempfile.mkdtemp(prefix="wcq_narrow_"), "t")
    df.write.format("webcodec").mode("append").option("path", out).save()
    back = spark.read.format("webcodec").option("path", out).load()
    assert dict(back.dtypes)["b"] == "tinyint" and dict(back.dtypes)["s"] == "smallint"
    return back.select(
        "doc_id",
        F.col("b").cast("long").alias("b_l"),
        F.col("s").cast("long").alias("s_l"),
        (F.col("f") * 4).cast("long").alias("f4_l"),
    )


def _rt_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType end-to-end (SURVEY §1.2 Variant logical
    annotation): events.props parsed to VARIANT, written through the
    DataSource — Spark hands the engine variant as
    struct<value: binary, metadata: binary> over Arrow, the snapshot schema
    records the Spark type string 'variant', and the read path restores the
    true variant type (asserted) — then fields are extracted AFTER the
    round-trip with variant_get. export_parquet additionally emits these
    columns as VARIANT(1)-annotated groups Spark's own parquet reader
    restores (tests/test_variant.py). Oracle: DuckDB json_extract over the
    raw props strings."""
    from webcodec.spark.datasource import WebcodecDataSource

    _prep(spark)
    spark.dataSource.register(WebcodecDataSource)
    df = _src(spark, sf_dir, "events").select(
        "event_id", F.parse_json(F.col("props")).alias("v"))
    out = os.path.join(tempfile.mkdtemp(prefix="wcq_variant_"), "t")
    df.write.format("webcodec").mode("append").option("path", out).save()
    back = spark.read.format("webcodec").option("path", out).load()
    assert dict(back.dtypes)["v"] == "variant"
    return back.select(
        "event_id", F.variant_get(F.col("v"), "$.k", "long").alias("k"))


def _rt_variant_shredded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHREDDED variant interop read (r5, VariantShredding.md): Spark 4
    writes variant columns shredded BY DEFAULT
    (spark.sql.variant.writeShredding.enabled), splitting each value into
    metadata + residual binaries plus typed_value columns — parquet files
    pyarrow cannot even parse. Here the REFERENCE writer (Spark's own
    parquet sink) shreds events.props; webcodec's interop reader
    (parquet_interop + variant_shred) decodes the pages with our kernels
    and reassembles the unshredded <metadata, value> pair per row, which
    each task then surfaces via the PUBLIC pyspark variant codec. The
    shredded layout is asserted, so this can't silently degrade to the
    unshredded path. Read side is distributed: one task per part-file,
    no driver materialization. Oracle: DuckDB json_extract."""
    _prep(spark)
    df = _src(spark, sf_dir, "events").select(
        "event_id", F.parse_json(F.col("props")).alias("v"))
    out = os.path.join(tempfile.mkdtemp(prefix="wcq_shred_"), "t")
    df.write.mode("overwrite").parquet(out)
    parts = sorted(
        os.path.join(out, f) for f in os.listdir(out)
        if f.endswith(".parquet"))
    from webcodec.parquet_interop import read_footer_native

    assert read_footer_native(parts[0])["variant_shredded"] == [("v",)], \
        "expected Spark to shred events.props"
    files_df = spark.createDataFrame([(p,) for p in parts], "path string") \
        .repartition(len(parts))

    def rd(batches):
        import pyarrow as pa
        from pyspark.sql.variant_utils import VariantUtils as VU

        from webcodec.parquet_interop import read_table_arrow_native

        for b in batches:
            for p in b.column("path").to_pylist():
                t = read_table_arrow_native(p)
                ks = []
                for sv in t.column("v").to_pylist():
                    obj = (None if sv is None else VU.to_python(
                        bytes(sv["value"]), bytes(sv["metadata"])))
                    ks.append(None if obj is None else int(obj["k"]))
                yield from pa.table({
                    "event_id": t.column("event_id").combine_chunks(),
                    "k": pa.array(ks, pa.int64()),
                }).to_batches()

    return files_df.mapInArrow(rd, "event_id long, k long")


def _rt_deleted_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read positional deletes (r3, Iceberg v2 delete-file
    analogue): encode documents, `delete_where(lang == 'de')` writes
    position sidecars WITHOUT rewriting data files
    (webcodec/spark/maintenance.py delete_where), and the DataSource read
    subtracts them in the decoder's keep-mask. At 100 TB this is the
    takedown path: the delete job scans only stats-pruned candidate files
    and writes O(deleted rows) bytes."""
    from webcodec.spark.datasource import WebcodecDataSource
    from webcodec.spark.maintenance import delete_where

    _prep(spark)
    spark.dataSource.register(WebcodecDataSource)
    df = _src(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = os.path.join(tempfile.mkdtemp(prefix="wcq_del_"), "t")
    df.write.format("webcodec").mode("append").option("path", out).save()
    delete_where(spark, out, ("lang", "==", "de"))
    back = spark.read.format("webcodec").option("path", out).load()
    return back.select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))


def _rt_upserted_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic MERGE by key (r3, Iceberg v2 row-level MERGE analogue,
    merge-on-read): `upsert` supersedes matching keys via positional-delete
    sidecars AND appends the source as new files in ONE snapshot
    (webcodec/spark/maintenance.py upsert). Here every doc_id % 7 == 0 row
    is updated (lang='xx', n_chars+1) and every doc_id % 97 == 0 row is
    re-inserted under doc_id+1000000 (lang='yy'); the merged read must show
    exactly base-minus-superseded plus the source."""
    from webcodec.spark.datasource import WebcodecDataSource
    from webcodec.spark.maintenance import upsert

    _prep(spark)
    spark.dataSource.register(WebcodecDataSource)
    df = _src(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = os.path.join(tempfile.mkdtemp(prefix="wcq_ups_"), "t")
    df.write.format("webcodec").mode("append").option("path", out).save()
    upd = (df.filter(F.col("doc_id") % 7 == 0)
           .select("doc_id", F.lit("xx").alias("lang"),
                   (F.col("n_chars") + 1).alias("n_chars")))
    ins = (df.filter(F.col("doc_id") % 97 == 0)
           .select((F.col("doc_id") + 1000000).alias("doc_id"),
                   F.lit("yy").alias("lang"), F.col("n_chars")))
    upsert(spark, out, upd.unionAll(ins), key_cols=["doc_id"])
    back = spark.read.format("webcodec").option("path", out).load()
    return back.select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))


def _rt_renamed_col(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only column rename (Iceberg ALTER COLUMN RENAME analogue):
    encode documents, rename `lang` -> `language` (zero data IO —
    webcodec/spark/maintenance.py rename_column records `renamed_from`
    provenance in the new snapshot), then read back: old files' chunks
    resolve through the alias chain and PREDICATES on the new name
    translate per file. The oracle is the same data under the new name."""
    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import rename_column

    _prep(spark)
    df = _src(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = os.path.join(tempfile.mkdtemp(prefix="wcq_ren_"), "t")
    encode_table(df, out, sort_key="doc_id", write_metrics=False)
    rename_column(out, "lang", "language")
    back = read_encoded(spark, out, columns=["doc_id", "language", "n_chars"],
                        predicate=("language", "notnull", None))
    return back.select("doc_id", "language",
                       F.col("n_chars").cast("long").alias("n_chars"))


def _rt_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel: encode documents (snapshot 1), delete all
    lang='de' rows (snapshot 2, merge-on-read sidecars), then read AS OF
    snapshot 1 — the pre-delete state must equal the raw source exactly
    (snapshots are immutable; sidecars attach to manifest entries, never to
    data files, so the old manifest still sees every row)."""
    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import delete_where
    from webcodec.spark.table import SnapshotTable

    _prep(spark)
    df = _src(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = os.path.join(tempfile.mkdtemp(prefix="wcq_tt_"), "t")
    encode_table(df, out, sort_key="doc_id", write_metrics=False)
    sid = SnapshotTable(out).current_snapshot_id()
    delete_where(spark, out, ("lang", "==", "de"))
    # sanity at plan level: the CURRENT read must be smaller — but the
    # oracle compares the time-traveled (pre-delete) read
    back = read_encoded(spark, out, snapshot_id=sid)
    return back.select("doc_id", "lang",
                       F.col("n_chars").cast("long").alias("n_chars"))


def _agg_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation over decoded output (dict+RLE column feeding a groupBy)."""
    df = _encode_decode(spark, sf_dir, "documents", sort_key="lang", columns=["lang"])
    return df.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication by content hash (training-data pipeline op):
    keep the smallest doc_id per distinct text."""
    df = _src(spark, sf_dir, "documents")
    return (
        df.select(F.sha2(F.col("text"), 256).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dupes"))
    )


def _text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + simple quality signals (training-data pipeline op)."""
    df = _src(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    return df.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_c"),
        F.size(words).cast("long").alias("n_tokens"),
        F.size(F.filter(words, lambda w: w == F.lit("the"))).cast("long").alias("n_the"),
        F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", "")).cast("long").alias("n_alpha"),
    )


def _dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures + LSH band keys (near-dup candidate generation).
    Hash = md5 (available identically in Spark and DuckDB); min over word
    tokens per seeded salt; 4 hashes banded 2x2."""
    df = _src(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")

    def mh_expr(seed: str):
        # NB: the transform lambda must be unary — a second parameter would be
        # interpreted by pyspark as the element INDEX, not a closure value
        return F.array_min(F.transform(words, lambda w: F.md5(F.concat(w, F.lit(seed)))))

    mh = [mh_expr(seed) for seed in ("#0", "#1", "#2", "#3")]
    return df.select(
        "doc_id",
        mh[0].alias("m0"),
        mh[1].alias("m1"),
        F.md5(F.concat(mh[0], mh[1])).alias("band0"),
        F.md5(F.concat(mh[2], mh[3])).alias("band1"),
    )


def _simsearch_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force nearest neighbors of vec_id=0 by dot product over
    quantized embeddings (integer-exact -> engine-independent ranking).
    Scale path: same expression after an LSH/IVF bucket join."""
    df = _src(spark, sf_dir, "embeddings")
    q = F.transform(F.col("embedding"), lambda x: F.floor(x.cast("double") * F.lit(1000.0)).cast("long"))
    qdf = df.filter(F.col("vec_id") == 0).select(q.alias("qvec"))
    cand = df.filter(F.col("vec_id") != 0).select("vec_id", q.alias("cvec"))
    dot = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("cvec"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    joined = cand.crossJoin(F.broadcast(qdf))
    return (
        joined.select("vec_id", dot.alias("dot"))
        .orderBy(F.col("dot").desc(), F.col("vec_id"))
        .limit(10)
    )


def _lang_id_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-hit counting (n-gram-style heuristic
    expressible in both engines)."""
    df = _src(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")

    def hits(stops: list[str]):
        arr = F.array(*[F.lit(s) for s in stops])
        return F.size(F.filter(words, lambda w: F.array_contains(arr, w))).cast("long")

    en = hits(["the", "and", "of", "to"])
    de = hits(["der", "und", "die", "das"])
    return df.select(
        "doc_id",
        en.alias("en_hits"),
        de.alias("de_hits"),
        F.when(en > de, F.lit("en")).when(de > en, F.lit("de")).otherwise(F.lit("und")).alias("lang_guess"),
    )


def _text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: head/tail content hashes + length (cheap
    near-identity key for incremental crawls)."""
    df = _src(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.length("text").cast("long").alias("n"),
        F.md5(F.substring(F.col("text"), 1, 64)).alias("head_fp"),
        F.md5(F.reverse(F.substring(F.reverse(F.col("text")), 1, 64))).alias("tail_fp"),
    )


def _media_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: treat content as an opaque binary column and
    extract typed metadata (byte length, content hash, magic prefix) —
    the decode/feature-extract slot for image/audio payloads."""
    df = _src(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "utf-8")
    return df.select(
        "doc_id",
        F.length(blob).cast("long").alias("n_bytes"),
        F.md5(blob).alias("content_md5"),
        F.upper(F.substring(F.hex(blob), 1, 8)).alias("magic_hex"),
    )


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash via the fully-vectorized kernel (Arrow C++ tokenize ->
    lane-parallel numpy MD5 -> one reduceat bit vote; zero per-row Python) —
    values bit-identical to the scalar md5 reference. The fingerprint is
    returned as two unsigned 32-bit halves so the DuckDB oracle (which
    recomputes every bit vote from md5 hex in pure SQL) can match without
    64-bit-unsigned overflow."""
    import pyarrow as _pa

    _prep(spark)
    df = _src(spark, sf_dir, "documents").select("doc_id", "text")

    def simhash_batches(batches):
        from webcodec.spark.text import simhash64

        for b in batches:
            yield _pa.RecordBatch.from_pydict(
                {"doc_id": b.column("doc_id"), "simhash": _pa.array(simhash64(b.column("text")))}
            )

    h = df.mapInArrow(simhash_batches, "doc_id long, simhash long")
    return h.select(
        "doc_id",
        F.expr("simhash & 4294967295").alias("sim_lo"),
        F.expr("shiftrightunsigned(simhash, 32)").alias("sim_hi"),
    )


def _embeddings_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings + 5 EXACT copies of the probe vector (vec_id 1000001..5).

    Planted-duplicates oracle construction: identical vectors share every
    LSH bucket and every IVF cell with the probe, so any correct ANN index
    returns them with recall 1.0 BY CONSTRUCTION (embeddings are unit-norm:
    cosine of a non-identical vector is < 1 with a wide margin, measured
    0.37 max at sf0.01). That turns the probabilistic index probes into
    hash-checkable queries: their top-5 must equal the brute-force top-5
    the DuckDB oracle computes over the same derived table."""
    base = _src(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probe = base.filter(F.col("vec_id") == 0).select("embedding")
    ids = spark.range(1, 6).select((F.col("id") + F.lit(1000000)).alias("vec_id"))
    planted = ids.crossJoin(F.broadcast(probe)).select("vec_id", "embedding")
    return base.unionByName(planted)


def _simsearch_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: random-hyperplane LSH bucketing (vectorized numpy in a
    mapInArrow kernel) -> candidates share the query's bucket -> exact
    integer-quantized dot-product rerank. At 10^12 rows the bucket join
    replaces the brute-force cross join of simsearch_top10. Runs over the
    planted-duplicates table (_embeddings_planted), so the result is
    deterministic and oracle-checked; recall floors on the RAW table are
    pinned separately in tests/test_ann.py."""
    import pyarrow as _pa

    _prep(spark)
    df = _embeddings_planted(spark, sf_dir)

    def bucketize(batches):
        import numpy as np

        from webcodec.spark.text import embedding_matrix

        # 6 planes -> 64 buckets (sized for the sf-test corpus; at 10^12 rows
        # you raise the plane count so buckets stay ~constant-sized)
        planes = np.random.default_rng(7).standard_normal((64, 6))
        for b in batches:
            ids = b.column("vec_id")
            emb = embedding_matrix(b.column("embedding"))  # buffer reshape, no per-row
            sig = (emb @ planes) > 0
            bucket = np.packbits(sig, axis=1, bitorder="little")[:, 0].astype(np.int32)
            # carry the embedding through — re-joining the corpus on vec_id
            # afterwards would be a full self-join shuffle for nothing
            yield _pa.RecordBatch.from_pydict(
                {"vec_id": ids, "bucket": _pa.array(bucket, _pa.int32()),
                 "embedding": b.column("embedding")}
            )

    withb = df.mapInArrow(bucketize, "vec_id long, bucket int, embedding array<float>")
    q = withb.filter(F.col("vec_id") == 0).select(
        F.col("bucket").alias("qb"),
        F.transform(F.col("embedding"), lambda x: F.floor(x.cast("double") * F.lit(1000.0)).cast("long")).alias("qvec"),
    )
    cand = withb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        "bucket",
        F.transform(F.col("embedding"), lambda x: F.floor(x.cast("double") * F.lit(1000.0)).cast("long")).alias("cvec"),
    )
    joined = cand.join(F.broadcast(q), cand.bucket == q.qb)  # bucket join, not cross
    dot = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("cvec"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        joined.select("vec_id", dot.alias("dot"))
        .orderBy(F.col("dot").desc(), F.col("vec_id"))
        .limit(5)
    )


def _simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (the coarse-quantizer counterpart to simsearch_lsh): k-means
    centroids trained DRIVER-SIDE on a bounded sample (numpy, deterministic
    seed/iterations — the standard IVF design: the quantizer sees a sample,
    assignment is distributed), then cell assignment via a vectorized Arrow
    kernel, probe = the query's cell only, exact integer-quantized dot
    rerank on those candidates. Runs over the planted-duplicates table
    (_embeddings_planted) so the result is deterministic and oracle-checked;
    raw-table recall floors live in tests/test_ann.py."""
    import numpy as np
    import pyarrow as _pa

    _prep(spark)
    df = _embeddings_planted(spark, sf_dir)

    # bounded driver-side sample -> deterministic k-means (k=16, 8 iters)
    sample_rows = df.orderBy("vec_id").limit(512).collect()
    X = np.array([r["embedding"] for r in sample_rows], dtype=np.float64)
    rng = np.random.default_rng(7)
    k = 16
    C = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(8):
        cell = np.argmax(X @ C.T, axis=1)  # unit-norm: max dot == min angle
        for j in range(len(C)):
            m = cell == j
            if m.any():
                v = X[m].mean(axis=0)
                nrm = np.linalg.norm(v)
                if nrm > 0:
                    C[j] = v / nrm
    bc = spark.sparkContext.broadcast(C)

    def assign(batches):
        from webcodec.spark.text import embedding_matrix

        for b in batches:
            emb = embedding_matrix(b.column("embedding"))
            cells = np.argmax(emb @ bc.value.T, axis=1).astype(np.int32)
            # carry the embedding through: re-joining the corpus on vec_id
            # afterwards would be a full self-join shuffle for nothing
            yield _pa.RecordBatch.from_pydict(
                {"vec_id": b.column("vec_id"),
                 "cell": _pa.array(cells, _pa.int32()),
                 "embedding": b.column("embedding")}
            )

    withc = df.mapInArrow(assign, "vec_id long, cell int, embedding array<float>")
    # multi-probe (nprobe=4): nearest centroids to the query, driver-side —
    # measured recall@20 0.45 while scanning ~22% of the corpus (vs 0.05 at
    # nprobe=1 on these near-random vectors); nprobe is the recall/cost knob
    qemb = np.array(
        df.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0], dtype=np.float64
    )
    probe = [int(c) for c in np.argsort(-(C @ qemb))[:4]]
    qvec_lit = [int(np.floor(float(x) * 1000.0)) for x in qemb]
    qdf = spark.createDataFrame([(qvec_lit,)], "qvec array<bigint>")
    qv = F.transform(F.col("embedding"), lambda x: F.floor(x.cast("double") * F.lit(1000.0)).cast("long"))
    cand = withc.filter((F.col("vec_id") != 0) & F.col("cell").isin(probe)).select(
        "vec_id", qv.alias("cvec")
    )
    joined = cand.crossJoin(F.broadcast(qdf))  # probe cells only, 1-row query side
    dot = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("cvec"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        joined.select("vec_id", dot.alias("dot"))
        .orderBy(F.col("dot").desc(), F.col("vec_id"))
        .limit(5)
    )


def _embeddings_planted_batch(spark: SparkSession, sf_dir: str):
    """(corpus+planted table, query table) for the BATCH ANN queries:
    3 queries (vec_id 0,1,2), 3 exact planted copies each at
    vec_id 1000000*(q+1)+r — see _ANN_BATCH_ORACLE."""
    base = _src(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qs = base.filter(F.col("vec_id") < 3)
    planted = (
        qs.select(F.col("vec_id").alias("q"), "embedding")
        .crossJoin(spark.range(1, 4).select(F.col("id").alias("r")))
        .select(((F.col("q") + 1) * 1000000 + F.col("r")).alias("vec_id"),
                "embedding")
    )
    return base.unionByName(planted), qs


def _quantized_vec():
    """Exact integer quantization shared by every ANN query/oracle."""
    return F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(1000.0)).cast("long"),
    )


def _per_query_top3(joined: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    dot = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("cvec"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("vec_id"))
    return (
        joined.select("qid", "vec_id", dot.alias("dot"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("qid", "vec_id", "dot")
    )


def _simsearch_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-query IVF ANN — queries as a TABLE, not a driver-collected
    vector (the dedup-against-index shape: at 10^12 rows both sides are
    DataFrames). 3 query vectors (vec_id 0,1,2), 3 exact planted copies
    each (vec_id 1000000*(q+1)+r — the planted-duplicates oracle of
    _embeddings_planted generalized per query). Plan shape: bounded-sample
    driver k-means -> broadcast centroids; cell assignment AND per-query
    multi-probe (nprobe=4) both via vectorized mapInArrow kernels; the
    probe expansion (queries x nprobe, tiny) broadcasts into a join on
    cell — candidates never cross-join, and no query embedding is ever
    collected. Per-query top-3 via a window over the exact
    integer-quantized dot."""
    import numpy as np
    import pyarrow as _pa

    _prep(spark)
    df, qs = _embeddings_planted_batch(spark, sf_dir)

    # bounded driver-side sample -> deterministic k-means (same quantizer
    # stance as _simsearch_ivf: the sample is bounded, assignment distributed)
    sample_rows = df.orderBy("vec_id").limit(512).collect()
    X = np.array([r["embedding"] for r in sample_rows], dtype=np.float64)
    rng = np.random.default_rng(7)
    k = 16
    C = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(8):
        cell = np.argmax(X @ C.T, axis=1)
        for j in range(len(C)):
            m = cell == j
            if m.any():
                v = X[m].mean(axis=0)
                nrm = np.linalg.norm(v)
                if nrm > 0:
                    C[j] = v / nrm
    bc = spark.sparkContext.broadcast(C)

    def assign(batches):
        from webcodec.spark.text import embedding_matrix

        for b in batches:
            emb = embedding_matrix(b.column("embedding"))
            cells = np.argmax(emb @ bc.value.T, axis=1).astype(np.int32)
            # carry the embedding through — no corpus self-join afterwards
            yield _pa.RecordBatch.from_pydict(
                {"vec_id": b.column("vec_id"),
                 "cell": _pa.array(cells, _pa.int32()),
                 "embedding": b.column("embedding")}
            )

    def probe_cells(batches):
        # per QUERY row: its nprobe nearest centroids — one output row per
        # (query, probed cell); runs distributed over the query table
        from webcodec.spark.text import embedding_matrix

        for b in batches:
            emb = embedding_matrix(b.column("embedding"))
            order = np.argsort(-(emb @ bc.value.T), axis=1)[:, :4]
            qids = b.column("vec_id").to_numpy(zero_copy_only=False)
            yield _pa.RecordBatch.from_pydict({
                "qid": _pa.array(np.repeat(qids, order.shape[1]), _pa.int64()),
                "cell": _pa.array(order.ravel().astype(np.int32), _pa.int32()),
            })

    quant = _quantized_vec()
    withc = df.mapInArrow(assign, "vec_id long, cell int, embedding array<float>")
    cand = (withc.filter(F.col("vec_id") >= 3)
            .select("vec_id", "cell", quant.alias("cvec")))
    probes = qs.mapInArrow(probe_cells, "qid long, cell int")
    qvecs = qs.select(F.col("vec_id").alias("qid"), quant.alias("qvec"))
    # (queries x nprobe) is the tiny side -> broadcast both query tables
    joined = cand.join(F.broadcast(probes), "cell").join(F.broadcast(qvecs), "qid")
    return _per_query_top3(joined)


def _simsearch_lsh_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-query LSH ANN (the hyperplane twin of _simsearch_ivf_batch):
    both the corpus and the query TABLE bucketize through the same
    vectorized hyperplane kernel; the bucket join replaces any cross join
    and the (tiny) query side broadcasts. Planted copies share each query's
    bucket by construction, so per-query top-3 is exact and oracle-checked
    by the same analytic SQL as the IVF batch."""
    import numpy as np
    import pyarrow as _pa

    _prep(spark)
    df, _qs = _embeddings_planted_batch(spark, sf_dir)

    def bucketize(batches):
        from webcodec.spark.text import embedding_matrix

        planes = np.random.default_rng(7).standard_normal((64, 6))
        for b in batches:
            emb = embedding_matrix(b.column("embedding"))
            sig = (emb @ planes) > 0
            bucket = np.packbits(sig, axis=1, bitorder="little")[:, 0].astype(np.int32)
            # carry the embedding through — no corpus self-join afterwards
            yield _pa.RecordBatch.from_pydict(
                {"vec_id": b.column("vec_id"),
                 "bucket": _pa.array(bucket, _pa.int32()),
                 "embedding": b.column("embedding")}
            )

    quant = _quantized_vec()
    withb = df.mapInArrow(bucketize, "vec_id long, bucket int, embedding array<float>")
    cand = (withb.filter(F.col("vec_id") >= 3)
            .select("vec_id", "bucket", quant.alias("cvec")))
    qside = (withb.filter(F.col("vec_id") < 3)
             .select(F.col("vec_id").alias("qid"),
                     F.col("bucket").alias("qb"), quant.alias("qvec")))
    joined = cand.join(F.broadcast(qside), cand.bucket == qside.qb)
    return _per_query_top3(joined)


def _metrics_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition lineage -> metrics table (north_rule): encode with
    metrics on, then aggregate the metrics parquet — row totals must match
    the source exactly."""
    from webcodec.spark.encode_job import encode_table

    _prep(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = tempfile.mkdtemp(prefix="wcq_metrics_")
    encode_table(df, os.path.join(out, "t"), num_partitions=4, write_metrics=True)
    m = spark.read.parquet(os.path.join(out, "t", "metrics"))
    return m.agg(
        F.sum("rows").alias("total_rows"),
        F.count(F.lit(1)).cast("long").alias("n_partitions_gt0"),
    ).select("total_rows")


def _media_decode_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (r4): a synthetic two-band BMP/PPM per document
    (top rows color A, bottom color B — colors/dims pure doc_id arithmetic)
    is decoded by the dependency-free numpy codecs (webcodec/imaging.py via
    webcodec/spark/media.py decode_image_stats). The oracle recomputes the
    exact integer pixel sums analytically; top_left_r catches a decoder
    that forgets BMP's bottom-up row order, odd widths exercise row padding."""
    import pyarrow as _pa

    from webcodec.spark.media import decode_image_stats

    _prep(spark)
    df = _src(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        from webcodec.imaging import encode_bmp, encode_ppm

        for b in batches:
            ids = b.column("doc_id").to_numpy(zero_copy_only=False)
            blobs = []
            for d in ids:
                d = int(d)
                w, h = 8 + d % 13, 8 + d % 7
                ca = np.array([d * 7 % 256, d * 11 % 256, d * 13 % 256], np.uint8)
                cb = np.array([d * 17 % 256, d * 19 % 256, d * 23 % 256], np.uint8)
                px = np.empty((h, w, 3), np.uint8)
                hh = (h + 1) // 2
                px[:hh] = ca
                px[hh:] = cb
                blobs.append(encode_bmp(px) if d % 2 == 0 else encode_ppm(px))
            yield pa.RecordBatch.from_pydict({
                "doc_id": pa.array(ids, pa.int64()),
                "img": pa.array(blobs, pa.binary()),
            })

    imgs = df.mapInArrow(gen, "doc_id long, img binary")
    return decode_image_stats(imgs, "doc_id", "img")


def _dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-3-gram Jaccard similarity between doc_id pairs (i, i+1) —
    integer-quantized so both engines agree exactly."""
    df = _src(spark, sf_dir, "documents").select("doc_id", "text")
    grams = F.array_distinct(
        F.expr("transform(sequence(1, greatest(length(text) - 2, 1)), i -> substring(text, i, 3))")
    )
    g = df.select("doc_id", grams.alias("g"))
    a = g.alias("a")
    b = g.alias("b")
    j = a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
    inter = F.size(F.array_intersect(F.col("a.g"), F.col("b.g"))).cast("long")
    uni = F.size(F.array_union(F.col("a.g"), F.col("b.g"))).cast("long")
    return j.select(
        F.col("a.doc_id").alias("doc_id"),
        inter.alias("n_inter"),
        uni.alias("n_union"),
        F.floor(inter * F.lit(1000) / uni).cast("long").alias("jac_1000"),
    )


def _dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-shaped near-dup dedup: MinHash-band candidate pairs -> exact
    Jaccard verify on candidates ONLY (never all-pairs). Banding r=3 hashes
    x b=4 bands over character-5-gram shingles; the band self-join is a
    shuffle on the band key, so at 10^12 docs work stays proportional to
    bucket sizes (r/b are the recall/cost knobs). Confirmed pairs =
    candidates with shingle-Jaccard >= 0.2 (integer-quantized)."""
    df = _src(spark, sf_dir, "documents").select("doc_id", "text")
    sh = F.array_distinct(
        F.expr("transform(sequence(1, greatest(length(text) - 4, 1)), i -> substring(text, i, 5))")
    )
    base = df.select("doc_id", sh.alias("sh"))

    # NB: the transform lambda must be UNARY — a second (even defaulted)
    # parameter would receive the element INDEX, not a closure value
    def mh_expr(k: int):
        seed = f"#{k}"

        def one(s):
            return F.md5(F.concat(s, F.lit(seed)))

        return F.array_min(F.transform(F.col("sh"), one))

    bands = [
        F.md5(F.concat(mh_expr(3 * j), mh_expr(3 * j + 1), mh_expr(3 * j + 2))).alias(f"band{j}")
        for j in range(4)
    ]
    sig = base.select("doc_id", *bands)
    # single-shuffle candidate generation: explode to (band_idx, band_value)
    # rows and self-join ONCE on that pair — at 10^12 docs this is one
    # shuffle of 4n rows, not four shuffles of the full signature table
    sigl = sig.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"band{j}") for j in range(4)])).alias("bi", "band"),
    )
    a, b = sigl.alias("a"), sigl.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ga, gb = base.alias("ga"), base.alias("gb")
    j = pairs.join(ga, F.col("doc_a") == F.col("ga.doc_id")).join(
        gb, F.col("doc_b") == F.col("gb.doc_id")
    )
    inter = F.size(F.array_intersect(F.col("ga.sh"), F.col("gb.sh"))).cast("long")
    uni = (F.size(F.col("ga.sh")) + F.size(F.col("gb.sh"))).cast("long") - inter
    return (
        j.select(
            "doc_a", "doc_b",
            inter.alias("n_inter"),
            uni.alias("n_union"),
            F.floor(inter * F.lit(1000) / uni).cast("long").alias("jac_1000"),
        )
        .filter(F.col("jac_1000") >= 200)
    )


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the confirmed LSH pairs — the final step of
    a near-dup pipeline (one canonical doc per duplicate cluster). Iterative
    min-label propagation: each round is ONE join + groupBy (a shuffle keyed
    on doc_id), converging in O(diameter) <= O(log n) rounds for near-dup
    graphs; the transitive closure is never materialized. The driver-side
    loop reads only a scalar per round (convergence count) — no data ever
    leaves the executors. At 10^12 docs the same loop holds (rounds are
    data-independent joins); alternating large-star/small-star is the
    constant-factor upgrade if diameters ever grow."""
    pairs = _dedup_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = _src(spark, sf_dir, "documents").select("doc_id")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).withColumnRenamed("doc_a", "src").withColumnRenamed("doc_b", "dst")
    edges = edges.persist()
    labels = docs.select("doc_id", F.col("doc_id").alias("label")).persist()
    changed = 1
    # neighbor-min propagation converges in O(component diameter) rounds;
    # near-dup clusters are dense (diameter a handful). 64 is generous
    # headroom — but NEVER return a non-converged labeling silently: the
    # oracle computes the EXACT closure, so a cap-hit must fail loudly
    for _round in range(64):
        nbr = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy("dst")
            .agg(F.min("label").alias("nlab"))
        )
        new = (
            labels.join(nbr, labels.doc_id == nbr.dst, "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nlab", F.col("label"))).alias("label"),
            )
            .persist()  # cut lineage growth per round
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            "dedup_clusters: label propagation did not converge in 64 rounds"
        )
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).cast("int").alias("is_canonical"),
    )


def _dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: sign-bit bucket candidates (first 8 dims
    -> 256 buckets; the SQL-expressible cousin of random-hyperplane LSH) ->
    exact integer-quantized dot product on candidates only -> top-20 most
    similar pairs. Embeddings are unit-norm, so the quantized dot IS the
    cosine surrogate (no float division to disagree across engines). At
    10^12 rows the bucket join bounds work by bucket sizes; bit count is the
    recall/cost knob."""
    df = _src(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bucket = F.expr(
        "aggregate(transform(slice(embedding, 1, 8), "
        "(x, i) -> CASE WHEN x > 0 THEN shiftleft(1, i) ELSE 0 END), 0, (a, b) -> a + b)"
    )
    q = F.transform(F.col("embedding"), lambda x: F.floor(x.cast("double") * F.lit(1000.0)).cast("long"))
    sig = df.select("vec_id", bucket.alias("bucket"), q.alias("qvec"))
    a, b = sig.alias("a"), sig.alias("b")
    j = a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
    dot = F.aggregate(
        F.zip_with(F.col("a.qvec"), F.col("b.qvec"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        j.select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            dot.alias("dot_q"),
        )
        .orderBy(F.col("dot_q").desc(), "vec_a", "vec_b")
        .limit(20)
    )


def _text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish tokenization via regex (runs-of-letters | runs-of-digits |
    single other-glyph — the GPT-2 pre-tokenizer shape, RE2-safe so both
    engines agree) + chars-per-token quality signal."""
    df = _src(spark, sf_dir, "documents")
    pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    toks = F.expr(f"regexp_extract_all(text, '{pat}', 0)")
    n_bpe = F.size(toks).cast("long")
    return df.select(
        "doc_id",
        n_bpe.alias("n_bpe"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_ws"),
        F.floor(F.length("text") * F.lit(1000) / F.greatest(n_bpe, F.lit(1))).cast("long").alias("chars_per_tok_1000"),
    )


def _events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction over the ROUND-TRIPPED events table: parse
    the JSON props column decoded from webcodec pages (proving byte-exact
    string round-trip survives a parser) and aggregate the extracted field
    per event type — the crawl-metadata-sidecar pattern."""
    df = _encode_decode(spark, sf_dir, "events", sort_key="event_id",
                        columns=["event_type", "props"])
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        df.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(k).alias("sum_k"))
    )


def _events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions over the round-tripped events table: per-user event
    rank and gap to the previous event in micros (H category: windows)."""
    from pyspark.sql import Window

    df = _encode_decode(spark, sf_dir, "events", sort_key="event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(ts_us, F.col("event_id"))
    return df.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("rn"),
        (ts_us - F.lag(ts_us, 1).over(w)).alias("gap_us"),
    )


_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (training-data pipeline op): punctuation
    ratio, stopword ratio, and mean word length — the classic crawl-quality
    signals (C4/Gopher-style rules), all integer-quantized per-mille so both
    engines agree bit-exactly. Built-ins only; one narrow scan, no shuffle."""
    df = _src(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_chars = F.greatest(F.length("text").cast("long"), F.lit(1).cast("long"))
    n_tokens = F.greatest(F.size(words).cast("long"), F.lit(1).cast("long"))
    n_punct = (
        F.length("text") - F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", ""))
    ).cast("long")
    n_stop = F.size(F.filter(words, lambda w: w.isin(*_STOPWORDS))).cast("long")
    n_nonspace = F.length(F.regexp_replace(F.col("text"), " ", "")).cast("long")
    return df.select(
        "doc_id",
        n_punct.alias("n_punct"),
        n_stop.alias("n_stop"),
        F.floor(n_punct * F.lit(1000) / n_chars).cast("long").alias("punct_1000"),
        F.floor(n_stop * F.lit(1000) / n_tokens).cast("long").alias("stop_1000"),
        F.floor(n_nonspace * F.lit(1000) / n_tokens).cast("long").alias("wordlen_1000"),
    )


def _events_asof_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator Spark lacks natively): for every click
    event, the timestamp of the latest strictly-earlier view event by the
    same user. Implemented as ONE sort-shuffle — union-tag + running
    last(ignorenulls) window over (user_id, ts) — instead of a range join,
    so at 10^12 rows it costs a single partitioned sort, not an exploding
    inequality join. Ties (view.ts == click.ts) are excluded by ordering
    clicks before views at equal ts (strict <, matching the oracle)."""
    from pyspark.sql import Window

    df = _encode_decode(spark, sf_dir, "events", sort_key="event_id",
                        columns=["event_id", "ts", "user_id", "event_type"])
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = df.select(
        "event_id", "user_id", "event_type", ts_us.alias("ts_us"),
        # clicks sort before views on equal ts so an equal-ts view is invisible
        F.when(F.col("event_type") == "view", F.lit(1)).otherwise(F.lit(0)).alias("tiebreak"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "tiebreak", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    view_ts = F.when(F.col("event_type") == "view", F.col("ts_us"))
    asof = ev.withColumn("view_ts", F.last(view_ts, ignorenulls=True).over(w))
    return asof.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        F.col("ts_us").alias("click_ts"),
        F.col("view_ts").alias("asof_view_ts"),
        (F.col("ts_us") - F.col("view_ts")).alias("since_view_us"),
    )


def _media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction, REAL decoder wired in (r5): every
    doc_id % 3 == 0 row carries a synthetic two-band BMP/PPM blob (same
    doc_id-arithmetic generator as media_decode_pixels) that the
    dependency-free numpy codecs decode to exact integer pixel-stat
    features; the other rows carry text bytes and take the clearly-marked
    stub path (md5-derived dims/features — no jpeg/png libs here). Both
    branches are analytically oracle-checkable: the real branch from the
    two-band color arithmetic, the stub from DuckDB's md5. The feature
    vector is folded to a scalar checksum (floor(x*1000) sum — every dim is
    k/128 with k an exact integer, so float32/double agree bit-for-bit)."""
    from webcodec.spark.media import extract_media_features

    _prep(spark)
    df = _src(spark, sf_dir, "documents").select("doc_id", "text")

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        from webcodec.imaging import encode_bmp, encode_ppm

        for b in batches:
            ids = b.column("doc_id").to_numpy(zero_copy_only=False)
            texts = b.column("text").to_pylist()
            blobs = []
            for d, txt in zip(ids, texts):
                d = int(d)
                if d % 3 != 0:
                    blobs.append((txt or "").encode())
                    continue
                w, h = 8 + d % 13, 8 + d % 7
                ca = np.array([d * 7 % 256, d * 11 % 256, d * 13 % 256], np.uint8)
                cb = np.array([d * 17 % 256, d * 19 % 256, d * 23 % 256], np.uint8)
                px = np.empty((h, w, 3), np.uint8)
                hh = (h + 1) // 2
                px[:hh] = ca
                px[hh:] = cb
                blobs.append(encode_bmp(px) if d % 2 == 0 else encode_ppm(px))
            yield pa.RecordBatch.from_pydict({
                "doc_id": pa.array(ids, pa.int64()),
                "blob": pa.array(blobs, pa.binary()),
            })

    media = df.mapInArrow(gen, "doc_id long, blob binary")
    feats = extract_media_features(media, "doc_id", "blob")
    feat_chk = F.aggregate(
        F.transform(F.col("feature"), lambda x: F.floor(x.cast("double") * F.lit(1000.0)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return feats.select(
        "media_id", "n_bytes", "format", "width", "height", "decoded",
        feat_chk.alias("feat_chk"),
    )


def _sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling (training-data pipeline op) over the
    ROUND-TRIPPED documents table: (a) hash-Bernoulli — a stable ~10% sample
    by md5(doc_id) hex prefix, reproducible across engines/runs/cluster
    sizes (no RNG, no seed drift between executors); (b) stratified — the
    hash-ranked top-20 docs per language, the per-stratum quota pattern used
    to balance corpus mixes. One narrow scan + one window sort-shuffle;
    at 10^12 rows the hash filter is a pushdown-free map, the stratified
    rank shuffles only (lang, hash) pairs."""
    from pyspark.sql import Window

    df = _encode_decode(spark, sf_dir, "documents", sort_key="doc_id",
                        columns=["doc_id", "lang"])
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h, F.col("doc_id"))
    return (
        df.select(
            "doc_id", "lang", h.alias("h"),
            (F.substring(h, 1, 2) <= F.lit("19")).cast("int").alias("in_10pct"),
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 20)
    )


def _pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (training-data pipeline op): scrub emails and
    phone-number shapes with typed placeholder tokens and count the hits.
    Patterns are RE2-safe (no backrefs/lookaround) so Spark's Java regex and
    DuckDB's RE2 agree byte-for-byte. PII is synthesized deterministically
    into the text so the operator provably fires on every row (the corpus
    itself is clean). Pure per-row map — no shuffle at any scale."""
    df = _src(spark, sf_dir, "documents")
    email_pat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    phone_pat = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    txt = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call 555-123-4567 now"),
    )
    red = F.regexp_replace(F.regexp_replace(txt, email_pat, "<EMAIL>"),
                           phone_pat, "<PHONE>")
    return df.select(
        "doc_id",
        F.regexp_count(txt, F.lit(email_pat)).cast("long").alias("n_email"),
        F.regexp_count(txt, F.lit(phone_pat)).cast("long").alias("n_phone"),
        F.md5(red).alias("redacted_md5"),
        F.length(red).cast("long").alias("n_redacted"),
    )


def _text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (Gopher-style quality rules over
    the ROUND-TRIPPED text): duplicate-word and duplicate-bigram fractions,
    per-mille quantized. Vectorized built-ins only (split / array_distinct /
    zip_with) — per-row map, no shuffle."""
    df = _encode_decode(spark, sf_dir, "documents", sort_key="doc_id",
                        columns=["doc_id", "text"])
    ws = F.split(F.col("text"), " ")
    n = F.size(ws).cast("long")
    uniq = F.size(F.array_distinct(ws)).cast("long")
    bigrams = F.zip_with(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
        F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    nb = F.size(bigrams).cast("long")
    uniqb = F.size(F.array_distinct(bigrams)).cast("long")
    return df.select(
        "doc_id",
        n.alias("n_words"),
        uniq.alias("n_uniq_words"),
        F.floor((n - uniq) * F.lit(1000) / F.greatest(n, F.lit(1))).cast("long").alias("dup_word_1000"),
        F.floor((nb - uniqb) * F.lit(1000) / F.greatest(nb, F.lit(1))).cast("long").alias("dup_bigram_1000"),
    )


def _url_canonical_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + domain-level filtering (crawl-pipeline op):
    strip scheme and query string, extract the domain, drop blocklisted
    domains, and aggregate per-domain doc counts. URLs are synthesized
    deterministically from doc_id (the documents table carries no url
    column). One groupBy(domain) shuffle of (domain) pairs — at 10^12 rows
    the domain cardinality, not the row count, sizes the exchange."""
    df = _encode_decode(spark, sf_dir, "documents", sort_key="doc_id",
                        columns=["doc_id"])
    url = F.concat(
        F.lit("https://d"), (F.col("doc_id") % 37).cast("string"),
        F.lit(".example.com/p/"), F.col("doc_id").cast("string"),
        F.lit("?utm=x&sid="), F.col("doc_id").cast("string"),
    )
    no_q = F.substring_index(url, "?", 1)
    no_scheme = F.substring_index(no_q, "://", -1)
    domain = F.substring_index(no_scheme, "/", 1)
    canon = df.select(
        "doc_id", no_scheme.alias("canon_url"), domain.alias("domain"),
    ).filter(~F.col("domain").isin("d0.example.com", "d5.example.com"))
    return canon.groupBy("domain").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("doc_id").alias("first_doc"),
        F.min("canon_url").alias("first_url"),
    )


def _token_budget_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting (corpus-mix planning op): whitespace-token
    totals per language with each language's cumulative share of the corpus
    per-mille, ordered by contribution. Partial aggregation handles the
    first shuffle; the running total is a window over the (tiny) per-lang
    aggregate, so the sort-shuffle touches one row per language."""
    from pyspark.sql import Window

    df = _src(spark, sf_dir, "documents")
    per = df.groupBy("lang").agg(
        F.sum(F.size(F.split(F.col("text"), " ")).cast("long")).alias("tokens"),
        F.count(F.lit(1)).alias("docs"),
    )
    w = Window.orderBy(F.col("tokens").desc(), F.col("lang")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    total = Window.partitionBy()
    return per.select(
        "lang", "tokens", "docs",
        F.floor(F.sum("tokens").over(w) * F.lit(1000) / F.sum("tokens").over(total))
        .cast("long").alias("cum_share_1000"),
    )


def _decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (training-data pipeline op): flag training
    documents sharing any 8-word shingle with a held-out evaluation set —
    the standard n-gram-overlap decontamination step run before pretraining.
    The eval set is carved deterministically from the corpus — doc_id % 97
    capped at doc_id < 19400, i.e. AT MOST 200 docs at ANY corpus size,
    mirroring a real eval set's fixed size — and contamination is provably
    present: a fixed canary sentence is appended to every eval doc and to a
    known slice of training docs (doc_id % 101), so the operator must fire
    on those ids (plus any natural 8-gram overlap, which the oracle counts
    identically).

    Scale shape: shingle explode is a per-row map; the eval shingle set is
    BOUNDED (fixed eval set -> fixed gram count) and BROADCAST, so the join
    is shuffle-free; the final groupBy(doc_id) shuffles only MATCHED rows —
    contamination-proportional, not corpus-proportional."""
    df = _encode_decode(spark, sf_dir, "documents", sort_key="doc_id",
                        columns=["doc_id", "text"])
    canary = " canary alpha beta gamma delta epsilon zeta eta theta"
    is_eval = (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 19400)
    is_marked = is_eval | (F.col("doc_id") % 101 == 0)
    t = F.when(is_marked, F.concat(F.col("text"), F.lit(canary))).otherwise(
        F.col("text")
    )
    words = df.select("doc_id", F.split(t, " ").alias("w")).filter(
        F.size("w") >= 8
    )
    # sequence() is ascending only because size(w)-7 >= 1 is guaranteed by
    # the filter above (Spark's sequence(1, 0) would count DOWN)
    grams = F.expr(
        "transform(sequence(1, size(w) - 7), i -> concat_ws(' ', slice(w, i, 8)))"
    )
    ev = (
        words.filter((F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 19400))
        .select(F.explode(grams).alias("g"))
        .distinct()
    )
    tr = words.filter(
        (F.col("doc_id") % 97 != 0) | (F.col("doc_id") >= 19400)
    ).select("doc_id", F.explode(F.array_distinct(grams)).alias("g"))
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )


def _pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (pretraining prep op): concatenate documents in
    doc_id order and split the token stream into fixed 2048-token training
    sequences — each doc reports the sequence it starts in and its offset
    there, the bookkeeping a packed-dataset loader needs. The global
    cumulative sum is the classic two-pass prefix scan, NOT a global-order
    window (which would funnel every row through one partition):
    range-partition by doc_id, per-partition running sums, then a broadcast
    join of the tiny per-partition prefix offsets — the only all-to-one
    window runs over #partitions rows. Partition boundaries never affect
    the result, so range-sampling nondeterminism is invisible."""
    from pyspark.sql import Window

    df = _encode_decode(spark, sf_dir, "documents", sort_key="doc_id",
                        columns=["doc_id", "text"])
    budget = 2048
    toks = df.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    n_parts = max(spark.sparkContext.defaultParallelism, 16)
    t = toks.repartitionByRange(n_parts, "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    wp = Window.partitionBy("pid").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local_before = F.coalesce(F.sum("n_tokens").over(wp), F.lit(0))
    totals = t.groupBy("pid").agg(F.sum("n_tokens").alias("ptot"))
    wo = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "pid", F.coalesce(F.sum("ptot").over(wo), F.lit(0)).alias("poff")
    )
    cum_before = (local_before + F.col("poff")).cast("long")
    return t.join(F.broadcast(offsets), "pid").select(
        "doc_id",
        "n_tokens",
        F.floor(cum_before / budget).cast("long").alias("seq_id"),
        (cum_before % budget).cast("long").alias("seq_offset"),
        # docs straddling a boundary get split across sequences: how many
        # tokens land in the doc's first sequence
        F.least(
            F.col("n_tokens"), F.lit(budget) - (cum_before % budget)
        ).cast("long").alias("tokens_in_first_seq"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """67 queries; the driver records oracle rows for the FIRST 50, so the
    dict is ordered by verification need and ROTATED each round: never/least
    -recently-verified and this-round-changed queries first, then the rest;
    the tail holds queries green in every previous round (r1-r4) whose code
    paths did not change this round."""
    return {
        # never driver-verified before r5 (Iceberg-v2 features) + r3-only
        "rt_deleted_rows": _rt_deleted_rows,
        "rt_upserted_rows": _rt_upserted_rows,
        "rt_renamed_col": _rt_renamed_col,
        "rt_time_travel": _rt_time_travel,
        "url_canonical_domains": _url_canonical_domains,
        "token_budget_per_lang": _token_budget_per_lang,
        "decontaminate_ngrams": _decontaminate_ngrams,
        "pack_sequences": _pack_sequences,
        "rt_narrow_types": _rt_narrow_types,
        "rt_list_decimal": _rt_list_decimal,
        # new/changed in r5 (nested interop both ways, real media features)
        "rt_variant": _rt_variant,
        "rt_variant_shredded": _rt_variant_shredded,
        "rt_geo": _rt_geo,
        "rt_export_parquet_deep": _rt_export_parquet_deep,
        "rt_import_parquet_nested": _rt_import_parquet_nested,
        "rt_import_parquet_filtered": _rt_import_parquet_filtered,
        "rt_export_parquet": _rt_export_parquet,
        "rt_export_parquet_v2": _rt_export_parquet_v2,
        "rt_export_parquet_nested": _rt_export_parquet_nested,
        "media_features": _media_features,
        "media_decode_pixels": _media_decode_pixels,
        "media_binary_meta": _media_binary_meta,
        # core engine surfaces
        "rt_encrypted": _rt_encrypted,
        "rt_encrypted_footer": _rt_encrypted_footer,
        "scan_prune_en": _scan_prune_en,
        "rt_documents_compacted": _rt_documents_compacted,
        "scan_bloom_miss": _scan_bloom_miss,
        "scan_ts_range": _scan_ts_range,
        "scan_partition_prune": _scan_partition_prune,
        "scan_zorder": _scan_zorder,
        "rt_struct": _rt_struct,
        "rt_map": _rt_map,
        "rt_nested": _rt_nested,
        "rt_nested_deep": _rt_nested_deep,
        "rt_decimal_date": _rt_decimal_date,
        "rt_list_words": _rt_list_words,
        "dedup_simhash": _dedup_simhash,
        "simsearch_lsh": _simsearch_lsh,
        "simsearch_ivf": _simsearch_ivf,
        "simsearch_ivf_batch": _simsearch_ivf_batch,
        "simsearch_lsh_batch": _simsearch_lsh_batch,
        "dedup_lsh_pairs": _dedup_lsh_pairs,
        "dedup_clusters": _dedup_clusters,
        "dedup_embedding_cosine": _dedup_embedding_cosine,
        "text_tokens_bpe": _text_tokens_bpe,
        "events_json_extract": _events_json_extract,
        "text_quality": _text_quality,
        "events_asof_view": _events_asof_view,
        "sample_stratified": _sample_stratified,
        "pii_redact": _pii_redact,
        "text_repetition": _text_repetition,
        "rt_documents": _rt_documents,
        "rt_events": _rt_events,
        # ---- driver-row cutoff (50) — tail: green r1-r4, unchanged in r5 ----
        "rt_lineitem_q1": _rt_lineitem_q1,
        "rt_join_orders": _rt_join_orders,
        "rt_embeddings": _rt_embeddings,
        "stats_minmax": _stats_minmax,
        "agg_lang_counts": _agg_lang_counts,
        "dedup_exact": _dedup_exact,
        "text_tokens": _text_tokens,
        "dedup_minhash": _dedup_minhash,
        "simsearch_top10": _simsearch_top10,
        "metrics_lineage": _metrics_lineage,
        "lang_id_stopwords": _lang_id_stopwords,
        "text_fingerprint": _text_fingerprint,
        "dedup_ngram_jaccard": _dedup_ngram_jaccard,
        "events_window": _events_window,
    }


def _hexbyte(h: str, i: int) -> str:
    """DuckDB expr: byte ``i`` (0-based) of the md5 hex string ``h`` as an int.
    (DuckDB md5 returns VARCHAR hex and blob slicing is unavailable, so the
    digest bytes are re-derived from hex-char pairs.)"""
    hexd = "'0123456789abcdef'"
    return (
        f"((strpos({hexd}, substring({h}, {2 * i + 1}, 1)) - 1) * 16 + "
        f"(strpos({hexd}, substring({h}, {2 * i + 2}, 1)) - 1))"
    )


def _dedup_simhash_oracle() -> str:
    """Pure-SQL SimHash: per token, the first 8 md5 bytes (LE) are parsed
    from hex pairs into two uint32 halves; per document and bit position the
    vote is SUM of that bit over tokens, and the bit is set iff strictly
    more than half the tokens carry it (2*sum > n) — exactly the kernel's
    signed-vote construction. Split into 32-bit halves to avoid unsigned
    64-bit overflow in BIGINT."""
    lo = " + ".join(f"({_hexbyte('md5(w)', i)}) * {1 << (8 * i)}" for i in range(4))
    hi = " + ".join(f"({_hexbyte('md5(w)', i + 4)}) * {1 << (8 * i)}" for i in range(4))
    s_cols = ", ".join(
        f"SUM((lo >> {b}) & 1) AS s{b}" for b in range(32)
    ) + ", " + ", ".join(f"SUM((hi >> {b}) & 1) AS t{b}" for b in range(32))
    lo_expr = " + ".join(
        f"(CASE WHEN 2 * s{b} > n THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)" for b in range(32)
    )
    hi_expr = " + ".join(
        f"(CASE WHEN 2 * t{b} > n THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)" for b in range(32)
    )
    return (
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), "
        f"b AS (SELECT doc_id, {lo} AS lo, {hi} AS hi FROM tok), "
        f"v AS (SELECT doc_id, count(*) AS n, {s_cols} FROM b GROUP BY doc_id) "
        f"SELECT doc_id, CAST({lo_expr} AS BIGINT) AS sim_lo, "
        f"CAST({hi_expr} AS BIGINT) AS sim_hi FROM v"
    )


def _media_features_oracle() -> str:
    """Two analytic branches mirroring the r5 media path. REAL branch
    (doc_id % 3 == 0): two-band image arithmetic — w = 8 + d%13,
    h = 8 + d%7, top band hh = (h+1)//2 rows of color A, rest color B, so
    sum_c = w*(hh*ca_c + (h-hh)*cb_c); n_bytes from the exact BMP
    (54 + 4-padded stride * h) / PPM (header text + w*h*3) layouts;
    feature dims k = [sum_r%256, sum_g%256, sum_b%256, w, h, ca_r, (w*h)%256,
    n_bytes%256], each mapped (k-128)/128 (float32/double-exact). STUB
    branch: h = md5(blob[:256]); width = 64 + h[0]%192; height = 64+h[1]%192;
    feature[i] = (h[i]-128)/128."""
    stub_terms = " + ".join(
        f"floor((({_hexbyte('h', i)}) - 128) / 128.0 * 1000.0)" for i in range(8)
    )
    # real-branch integer dims as SQL expressions over d (doc_id)
    w, h = "(8 + d % 13)", "(8 + d % 7)"
    hh = f"(({h} + 1) // 2)"
    ca = [f"(d * {m} % 256)" for m in (7, 11, 13)]
    cb = [f"(d * {m} % 256)" for m in (17, 19, 23)]
    sums = [f"({w} * ({hh} * {a} + ({h} - {hh}) * {b}))" for a, b in zip(ca, cb)]
    nb = (f"(CASE WHEN d % 2 = 0 THEN 54 + (({w} * 3 + 3) // 4) * 4 * {h} "
          f"ELSE octet_length(encode('P6' || chr(10) || CAST({w} AS VARCHAR) "
          f"|| ' ' || CAST({h} AS VARCHAR) || chr(10) || '255' || chr(10))) "
          f"+ {w} * {h} * 3 END)")
    ks = [f"({s} % 256)" for s in sums] + [w, h, ca[0], f"({w} * {h} % 256)",
                                           f"({nb} % 256)"]
    real_terms = " + ".join(f"floor(({k} - 128) / 128.0 * 1000.0)" for k in ks)
    return (
        "WITH m AS (SELECT doc_id AS media_id, doc_id AS d, text, "
        "md5(substring(text, 1, 256)) AS h FROM documents) "
        "SELECT media_id, "
        f"CAST(CASE WHEN d % 3 = 0 THEN {nb} "
        "ELSE octet_length(encode(text)) END AS BIGINT) AS n_bytes, "
        "CASE WHEN d % 3 = 0 THEN (CASE WHEN d % 2 = 0 THEN 'bmp' ELSE 'ppm' END) "
        "WHEN substring(text, 1, 4) = 'GIF8' THEN 'gif' "
        "WHEN substring(text, 1, 4) = 'RIFF' THEN 'riff' "
        "WHEN substring(text, 1, 4) IN ('<htm', '<!DO') THEN 'html' "
        "ELSE 'unknown' END AS format, "
        f"CAST(CASE WHEN d % 3 = 0 THEN {w} "
        f"ELSE 64 + ({_hexbyte('h', 0)}) % 192 END AS INT) AS width, "
        f"CAST(CASE WHEN d % 3 = 0 THEN {h} "
        f"ELSE 64 + ({_hexbyte('h', 1)}) % 192 END AS INT) AS height, "
        "(d % 3 = 0) AS decoded, "
        f"CAST(CASE WHEN d % 3 = 0 THEN {real_terms} "
        f"ELSE {stub_terms} END AS BIGINT) AS feat_chk "
        "FROM m"
    )


def _dedup_lsh_pairs_oracle() -> str:
    def mh(k: int) -> str:
        return f"list_aggregate(list_transform(sh, s -> md5(s || '#{k}')), 'min')"

    bands = ", ".join(
        f"md5({mh(3 * j)} || {mh(3 * j + 1)} || {mh(3 * j + 2)}) AS band{j}" for j in range(4)
    )
    joins = " UNION ".join(
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM m a JOIN m b "
        f"ON a.band{j} = b.band{j} AND a.doc_id < b.doc_id"
        for j in range(4)
    )
    return (
        "WITH t AS (SELECT doc_id, list_distinct(list_transform("
        "range(1, greatest(length(text) - 4, 1) + 1), i -> substring(text, i, 5))) AS sh "
        "FROM documents), "
        f"m AS (SELECT doc_id, {bands} FROM t), "
        f"pairs AS ({joins}) "
        "SELECT doc_a, doc_b, "
        "CAST(len(list_intersect(ga.sh, gb.sh)) AS BIGINT) AS n_inter, "
        "CAST(len(ga.sh) + len(gb.sh) - len(list_intersect(ga.sh, gb.sh)) AS BIGINT) AS n_union, "
        "CAST(floor(CAST(len(list_intersect(ga.sh, gb.sh)) AS BIGINT) * 1000 / "
        "(len(ga.sh) + len(gb.sh) - len(list_intersect(ga.sh, gb.sh)))) AS BIGINT) AS jac_1000 "
        "FROM pairs JOIN t ga ON ga.doc_id = doc_a JOIN t gb ON gb.doc_id = doc_b "
        "WHERE CAST(floor(CAST(len(list_intersect(ga.sh, gb.sh)) AS BIGINT) * 1000 / "
        "(len(ga.sh) + len(gb.sh) - len(list_intersect(ga.sh, gb.sh)))) AS BIGINT) >= 200"
    )


def _dedup_clusters_oracle() -> str:
    """Connected components in pure SQL: the verified LSH-pairs CTEs feed a
    recursive reachability closure; cluster id = MIN reachable doc_id (fine
    at oracle scale — the Spark side never materializes this closure)."""
    def mh(k: int) -> str:
        return f"list_aggregate(list_transform(sh, s -> md5(s || '#{k}')), 'min')"

    bands = ", ".join(
        f"md5({mh(3 * j)} || {mh(3 * j + 1)} || {mh(3 * j + 2)}) AS band{j}" for j in range(4)
    )
    joins = " UNION ".join(
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM m a JOIN m b "
        f"ON a.band{j} = b.band{j} AND a.doc_id < b.doc_id"
        for j in range(4)
    )
    jac = (
        "CAST(floor(CAST(len(list_intersect(ga.sh, gb.sh)) AS BIGINT) * 1000 / "
        "(len(ga.sh) + len(gb.sh) - len(list_intersect(ga.sh, gb.sh)))) AS BIGINT)"
    )
    return (
        "WITH RECURSIVE t AS (SELECT doc_id, list_distinct(list_transform("
        "range(1, greatest(length(text) - 4, 1) + 1), i -> substring(text, i, 5))) AS sh "
        "FROM documents), "
        f"m AS (SELECT doc_id, {bands} FROM t), "
        f"p0 AS ({joins}), "
        f"conf AS (SELECT doc_a, doc_b FROM p0 "
        f"JOIN t ga ON ga.doc_id = doc_a JOIN t gb ON gb.doc_id = doc_b "
        f"WHERE {jac} >= 200), "
        "e AS (SELECT doc_a AS s, doc_b AS d FROM conf "
        "UNION SELECT doc_b, doc_a FROM conf), "
        "reach(doc, x) AS (SELECT doc_id, doc_id FROM documents "
        "UNION SELECT r.doc, e.d FROM reach r JOIN e ON e.s = r.x) "
        "SELECT doc AS doc_id, CAST(MIN(x) AS BIGINT) AS cluster_id, "
        "CAST(doc = MIN(x) AS INT) AS is_canonical FROM reach GROUP BY doc"
    )


# Batch twin: per-query brute-force top-3 over embeddings + 3 planted
# copies of EACH query vec_id<3 (vec_id 1000000*(q+1)+r) — the ground truth
# the batch LSH/IVF queries must reproduce (copies share every cell/bucket
# with their query by construction).
_ANN_BATCH_ORACLE = (
    "WITH qs AS (SELECT vec_id AS qid, embedding FROM embeddings "
    "WHERE vec_id < 3), "
    "allv AS (SELECT vec_id, embedding FROM embeddings "
    "UNION ALL SELECT (q.qid + 1) * 1000000 + t.r AS vec_id, "
    "q.embedding FROM qs q CROSS JOIN range(1, 4) t(r)), "
    "qq AS (SELECT qid, list_transform(embedding, "
    "x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qvec "
    "FROM qs), "
    "c AS (SELECT vec_id, list_transform(embedding, "
    "x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS cvec "
    "FROM allv WHERE vec_id >= 3), "
    "d AS (SELECT qid, vec_id, "
    "CAST(list_sum(list_transform(range(1, len(qvec)+1), "
    "i -> qvec[i] * cvec[i])) AS BIGINT) AS dot FROM c, qq), "
    "r AS (SELECT qid, vec_id, dot, row_number() OVER "
    "(PARTITION BY qid ORDER BY dot DESC, vec_id) AS rn FROM d) "
    "SELECT qid, vec_id, dot FROM r WHERE rn <= 3"
)


# Brute-force top-5 over embeddings + 5 planted exact copies of the probe
# vector (vec_id 1000001..1000005) — the engine-independent answer any
# correct LSH/IVF index must reproduce (see _embeddings_planted).
_ANN_PLANTED_ORACLE = (
    "WITH allv AS (SELECT vec_id, embedding FROM embeddings "
    "UNION ALL SELECT 1000000 + t.r AS vec_id, e.embedding "
    "FROM embeddings e CROSS JOIN range(1, 6) t(r) WHERE e.vec_id = 0), "
    "q AS (SELECT list_transform(embedding, "
    "x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qvec "
    "FROM embeddings WHERE vec_id = 0), "
    "c AS (SELECT vec_id, list_transform(embedding, "
    "x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS cvec "
    "FROM allv WHERE vec_id != 0) "
    "SELECT vec_id, CAST(list_sum(list_transform(range(1, len(qvec)+1), "
    "i -> qvec[i] * cvec[i])) AS BIGINT) AS dot "
    "FROM c, q ORDER BY dot DESC, vec_id LIMIT 5"
)


def oracle_sql() -> dict[str, str]:
    return {
        "rt_documents": "SELECT doc_id, text, lang, source, n_chars FROM documents",
        "rt_encrypted": "SELECT doc_id, text, lang, source, n_chars FROM documents",
        "rt_encrypted_footer": "SELECT doc_id, text, lang, source, n_chars FROM documents",
        "rt_events": (
            "SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, "
            "CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS value_c, props FROM events"
        ),
        # NB: DuckDB sum(BIGINT)/list_sum return HUGEINT, which pandas
        # materializes as float64 — every integer aggregate must be wrapped in
        # CAST(... AS BIGINT) or the driver's value hash can't match Spark.
        "rt_lineitem_q1": (
            "SELECT l_returnflag, l_linestatus, count(*) AS cnt, "
            "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, "
            "CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_c, "
            "CAST(sum(CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_c "
            "FROM lineitem GROUP BY l_returnflag, l_linestatus"
        ),
        "rt_join_orders": (
            "SELECT o_orderpriority, count(*) AS cnt, "
            "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY o_orderpriority"
        ),
        "rt_embeddings": (
            "SELECT vec_id, CAST(len(embedding) AS INT) AS dim, "
            "CAST(list_sum(list_transform(embedding, "
            "x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))) AS BIGINT) AS emb_chk, "
            "label FROM embeddings"
        ),
        "scan_prune_en": "SELECT doc_id, lang FROM documents WHERE lang = 'en'",
        "rt_documents_compacted": "SELECT doc_id, text, lang, source, n_chars FROM documents",
        "scan_bloom_miss": "SELECT doc_id, lang FROM documents WHERE lang = 'zz'",
        "scan_ts_range": (
            "SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type "
            "FROM events WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-13'"
        ),
        "scan_partition_prune": (
            "SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type "
            "FROM events WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-12' "
            "AND event_type = 'click'"
        ),
        "scan_zorder": (
            "SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type "
            "FROM events WHERE user_id >= 20 AND user_id < 30 "
            "AND ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-13'"
        ),
        "rt_struct": (
            "SELECT doc_id, "
            "CASE WHEN doc_id % 7 != 3 THEN lang END AS lang, "
            "CASE WHEN doc_id % 7 != 3 THEN n_chars END AS n, "
            "CAST(doc_id % 7 = 3 AS INT) AS meta_null FROM documents"
        ),
        "rt_map": (
            "SELECT event_id, "
            "CASE WHEN event_id % 13 != 7 THEN 'k' END AS keys, "
            "CASE WHEN event_id % 13 != 7 THEN CAST(json_extract(props, '$.k') AS BIGINT) END AS k_val, "
            "CAST(event_id % 13 = 7 AS INT) AS map_null FROM events"
        ),
        "rt_nested": (
            "WITH w AS (SELECT doc_id, list_slice(string_split(text, ' '), 1, 3) AS ws "
            "FROM documents) "
            "SELECT doc_id, CAST(len(ws) AS INT) AS n_entries, "
            "array_to_string(ws, '|') AS joined, "
            "CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS n_sum FROM w"
        ),
        "rt_decimal_date": (
            "SELECT l_orderkey, l_linenumber, "
            "CAST((l_orderkey - 3000) * 1000 + l_partkey AS BIGINT) AS amt_milli, "
            "CAST(year(CAST(l_shipdate AS DATE)) * 10000 "
            "+ month(CAST(l_shipdate AS DATE)) * 100 "
            "+ day(CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_ymd "
            "FROM lineitem"
        ),
        "rt_nested_deep": (
            "WITH w AS (SELECT doc_id, lang, text, string_split(text, ' ') AS ws "
            "FROM documents) "
            "SELECT doc_id, lang AS lg, CAST(length(text) AS BIGINT) AS ln, "
            "array_to_string(flatten([list_slice(ws, 1, 2), list_slice(ws, 3, 4)]), '|') "
            "AS joined FROM w"
        ),
        "rt_list_words": (
            "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words, "
            "md5(text) AS rejoined_md5 FROM documents"
        ),
        "rt_export_parquet": "SELECT doc_id, text, lang, source, n_chars FROM documents",
        "rt_export_parquet_v2": "SELECT doc_id, text, lang, source, n_chars FROM documents",
        "stats_minmax": (
            "SELECT CAST(min(n_chars) AS BIGINT) AS min_nchars, "
            "CAST(max(n_chars) AS BIGINT) AS max_nchars, count(*) AS total_rows FROM documents"
        ),
        "agg_lang_counts": "SELECT lang, count(*) AS cnt FROM documents GROUP BY lang",
        "dedup_exact": (
            "SELECT sha256(text) AS h, min(doc_id) AS keep_id, count(*) AS dupes "
            "FROM documents GROUP BY sha256(text)"
        ),
        "text_tokens": (
            "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_c, "
            "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, "
            "CAST(len(list_filter(string_split(text, ' '), w -> w = 'the')) AS BIGINT) AS n_the, "
            "CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha "
            "FROM documents"
        ),
        "dedup_minhash": (
            "WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
            "m AS (SELECT doc_id, "
            "list_aggregate(list_transform(ws, w -> md5(w || '#0')), 'min') AS m0, "
            "list_aggregate(list_transform(ws, w -> md5(w || '#1')), 'min') AS m1, "
            "list_aggregate(list_transform(ws, w -> md5(w || '#2')), 'min') AS m2, "
            "list_aggregate(list_transform(ws, w -> md5(w || '#3')), 'min') AS m3 FROM t) "
            "SELECT doc_id, m0, m1, md5(m0 || m1) AS band0, md5(m2 || m3) AS band1 FROM m"
        ),
        "simsearch_top10": (
            "WITH q AS (SELECT list_transform(embedding, "
            "x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qvec "
            "FROM embeddings WHERE vec_id = 0), "
            "c AS (SELECT vec_id, list_transform(embedding, "
            "x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS cvec "
            "FROM embeddings WHERE vec_id != 0) "
            "SELECT vec_id, CAST(list_sum(list_transform(range(1, len(qvec)+1), "
            "i -> qvec[i] * cvec[i])) AS BIGINT) AS dot "
            "FROM c, q ORDER BY dot DESC, vec_id LIMIT 10"
        ),
        "lang_id_stopwords": (
            "WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
            "h AS (SELECT doc_id, "
            "CAST(len(list_filter(ws, w -> list_contains(['the','and','of','to'], w))) AS BIGINT) AS en_hits, "
            "CAST(len(list_filter(ws, w -> list_contains(['der','und','die','das'], w))) AS BIGINT) AS de_hits FROM t) "
            "SELECT doc_id, en_hits, de_hits, "
            "CASE WHEN en_hits > de_hits THEN 'en' WHEN de_hits > en_hits THEN 'de' "
            "ELSE 'und' END AS lang_guess FROM h"
        ),
        "text_fingerprint": (
            "SELECT doc_id, CAST(length(text) AS BIGINT) AS n, "
            "md5(substring(text, 1, 64)) AS head_fp, "
            "md5(reverse(substring(reverse(text), 1, 64))) AS tail_fp FROM documents"
        ),
        "media_binary_meta": (
            # duckdb md5 is VARCHAR-only; text is utf-8 so md5(text) == md5(bytes)
            "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
            "md5(text) AS content_md5, "
            "upper(substring(hex(encode(text)), 1, 8)) AS magic_hex FROM documents"
        ),
        "metrics_lineage": "SELECT count(*) AS total_rows FROM documents",
        "media_features": _media_features_oracle(),
        # analytic pixel oracle: the images are two horizontal color bands
        # whose dims/colors are doc_id arithmetic, so exact integer channel
        # sums and the top-left pixel are computable without any decoder
        "media_decode_pixels": (
            "WITH p AS (SELECT doc_id, 8 + doc_id % 13 AS w, "
            "8 + doc_id % 7 AS h, "
            "(doc_id * 7) % 256 AS ra, (doc_id * 11) % 256 AS ga, "
            "(doc_id * 13) % 256 AS ba, "
            "(doc_id * 17) % 256 AS rb, (doc_id * 19) % 256 AS gb, "
            "(doc_id * 23) % 256 AS bb FROM documents) "
            "SELECT doc_id AS media_id, "
            "CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS format, "
            "CAST(w AS INT) AS width, CAST(h AS INT) AS height, "
            "CAST((ra * ((h + 1) // 2) + rb * (h - (h + 1) // 2)) * w "
            "AS BIGINT) AS sum_r, "
            "CAST((ga * ((h + 1) // 2) + gb * (h - (h + 1) // 2)) * w "
            "AS BIGINT) AS sum_g, "
            "CAST((ba * ((h + 1) // 2) + bb * (h - (h + 1) // 2)) * w "
            "AS BIGINT) AS sum_b, "
            "CAST(ra AS INT) AS top_left_r, TRUE AS decoded FROM p"
        ),
        "dedup_simhash": _dedup_simhash_oracle(),
        "dedup_lsh_pairs": _dedup_lsh_pairs_oracle(),
        "dedup_clusters": _dedup_clusters_oracle(),
        "dedup_embedding_cosine": (
            "WITH q AS (SELECT vec_id, "
            "CAST(list_sum(list_transform(range(1, 9), "
            "i -> CASE WHEN embedding[i] > 0 THEN (1 << (i - 1)) ELSE 0 END)) AS INT) AS bucket, "
            "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qvec "
            "FROM embeddings) "
            "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
            "CAST(list_sum(list_transform(range(1, len(a.qvec) + 1), "
            "i -> a.qvec[i] * b.qvec[i])) AS BIGINT) AS dot_q "
            "FROM q a JOIN q b ON a.bucket = b.bucket AND a.vec_id < b.vec_id "
            "ORDER BY dot_q DESC, vec_a, vec_b LIMIT 20"
        ),
        "text_tokens_bpe": (
            "SELECT doc_id, "
            "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe, "
            "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws, "
            "CAST(floor(length(text) * 1000 / greatest("
            "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')), 1)) AS BIGINT) AS chars_per_tok_1000 "
            "FROM documents"
        ),
        "dedup_ngram_jaccard": (
            "WITH g AS (SELECT doc_id, list_distinct(list_transform("
            "range(1, greatest(length(text) - 2, 1) + 1), i -> substring(text, i, 3))) AS g "
            "FROM documents) "
            "SELECT a.doc_id AS doc_id, "
            "CAST(len(list_intersect(a.g, b.g)) AS BIGINT) AS n_inter, "
            "CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS BIGINT) AS n_union, "
            "CAST(floor(CAST(len(list_intersect(a.g, b.g)) AS BIGINT) * 1000 / "
            "(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))) AS BIGINT) AS jac_1000 "
            "FROM g a JOIN g b ON a.doc_id + 1 = b.doc_id"
        ),
        "events_json_extract": (
            "SELECT event_type, count(*) AS cnt, "
            "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k "
            "FROM events GROUP BY event_type"
        ),
        "events_window": (
            "SELECT event_id, user_id, "
            "CAST(row_number() OVER w AS INT) AS rn, "
            "epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us "
            "FROM events "
            "WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)"
        ),
        "text_quality": (
            "SELECT doc_id, "
            "CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_punct, "
            "CAST(len(list_filter(string_split(text, ' '), t -> t IN "
            "('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS n_stop, "
            "CAST(floor((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) * 1000 "
            "/ greatest(length(text), 1)) AS BIGINT) AS punct_1000, "
            "CAST(floor(len(list_filter(string_split(text, ' '), t -> t IN "
            "('the','a','an','and','or','of','to','in','is','it'))) * 1000 "
            "/ greatest(len(string_split(text, ' ')), 1)) AS BIGINT) AS stop_1000, "
            "CAST(floor(length(replace(text, ' ', '')) * 1000 "
            "/ greatest(len(string_split(text, ' ')), 1)) AS BIGINT) AS wordlen_1000 "
            "FROM documents"
        ),
        "events_asof_view": (
            "SELECT c.event_id, c.user_id, c.ts_us AS click_ts, "
            "MAX(v.ts_us) AS asof_view_ts, "
            "c.ts_us - MAX(v.ts_us) AS since_view_us "
            "FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events "
            "      WHERE event_type = 'click') c "
            "LEFT JOIN (SELECT user_id, epoch_us(ts) AS ts_us FROM events "
            "      WHERE event_type = 'view') v "
            "ON v.user_id = c.user_id AND v.ts_us < c.ts_us "
            "GROUP BY c.event_id, c.user_id, c.ts_us"
        ),
        # simsearch_lsh / simsearch_ivf run over the planted-duplicates table
        # (5 exact copies of the probe vector), so any correct ANN index must
        # return the brute-force top-5 — the oracle below IS that brute force
        # over the identical derived table (recall floors on the raw table
        # are pinned in tests/test_ann.py).
        "simsearch_lsh": _ANN_PLANTED_ORACLE,
        "simsearch_ivf": _ANN_PLANTED_ORACLE,
        # batch shape: per-query brute-force top-3 over embeddings + 3
        # planted copies of EACH query (vec_id 1000000*(q+1)+r) — any
        # correct batch ANN must reproduce it (copies share the query's
        # cell/bucket by construction); the LSH twin checks against the
        # identical ground truth
        "simsearch_lsh_batch": _ANN_BATCH_ORACLE,
        "simsearch_ivf_batch": _ANN_BATCH_ORACLE,
        "sample_stratified": (
            "WITH h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h "
            "FROM documents), "
            "r AS (SELECT doc_id, lang, h, "
            "CAST(substring(h, 1, 2) <= '19' AS INT) AS in_10pct, "
            "CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS rn "
            "FROM h) "
            "SELECT doc_id, lang, h, in_10pct, rn FROM r WHERE rn <= 20"
        ),
        "pii_redact": (
            "WITH t AS (SELECT doc_id, text || ' contact user' "
            "|| CAST(doc_id AS VARCHAR) "
            "|| '@mail.example.com or call 555-123-4567 now' AS txt FROM documents), "
            "r AS (SELECT doc_id, txt, regexp_replace(regexp_replace(txt, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
            "'[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS red FROM t) "
            "SELECT doc_id, "
            "CAST(len(regexp_extract_all(txt, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email, "
            "CAST(len(regexp_extract_all(txt, "
            "'[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone, "
            "md5(red) AS redacted_md5, "
            "CAST(length(red) AS BIGINT) AS n_redacted FROM r"
        ),
        "text_repetition": (
            "WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
            "b AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n, "
            "CAST(len(list_distinct(ws)) AS BIGINT) AS uniq, "
            "list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bg "
            "FROM t), "
            "c AS (SELECT doc_id, n, uniq, CAST(len(bg) AS BIGINT) AS nb, "
            "CAST(len(list_distinct(bg)) AS BIGINT) AS uniqb FROM b) "
            "SELECT doc_id, n AS n_words, uniq AS n_uniq_words, "
            "CAST(floor((n - uniq) * 1000 / greatest(n, 1)) AS BIGINT) AS dup_word_1000, "
            "CAST(floor((nb - uniqb) * 1000 / greatest(nb, 1)) AS BIGINT) AS dup_bigram_1000 "
            "FROM c"
        ),
        "url_canonical_domains": (
            "WITH u AS (SELECT doc_id, "
            "'d' || CAST(doc_id % 37 AS VARCHAR) || '.example.com' AS domain, "
            "'d' || CAST(doc_id % 37 AS VARCHAR) || '.example.com/p/' "
            "|| CAST(doc_id AS VARCHAR) AS canon_url FROM documents) "
            "SELECT domain, count(*) AS cnt, CAST(min(doc_id) AS BIGINT) AS first_doc, "
            "min(canon_url) AS first_url FROM u "
            "WHERE domain NOT IN ('d0.example.com', 'd5.example.com') GROUP BY domain"
        ),
        "token_budget_per_lang": (
            "WITH per AS (SELECT lang, "
            "CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS tokens, "
            "count(*) AS docs FROM documents GROUP BY lang) "
            "SELECT lang, tokens, docs, "
            "CAST(floor(CAST(sum(tokens) OVER (ORDER BY tokens DESC, lang "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) * 1000 "
            "/ CAST(sum(tokens) OVER () AS BIGINT)) AS BIGINT) AS cum_share_1000 "
            "FROM per"
        ),
        "decontaminate_ngrams": (
            "WITH docs AS (SELECT doc_id, "
            "CASE WHEN (doc_id % 97 = 0 AND doc_id < 19400) OR doc_id % 101 = 0 "
            "THEN text || ' canary alpha beta gamma delta epsilon zeta eta theta' "
            "ELSE text END AS t FROM documents), "
            "words AS (SELECT doc_id, string_split(t, ' ') AS w FROM docs), "
            "gl AS (SELECT doc_id, list_transform(range(1, len(w) - 6), "
            "i -> array_to_string(w[i:i+7], ' ')) AS l "
            "FROM words WHERE len(w) >= 8), "
            "grams AS (SELECT doc_id, unnest(l) AS g FROM gl), "
            "ev AS (SELECT DISTINCT g FROM grams "
            "WHERE doc_id % 97 = 0 AND doc_id < 19400), "
            "tr AS (SELECT DISTINCT doc_id, g FROM grams "
            "WHERE doc_id % 97 <> 0 OR doc_id >= 19400) "
            "SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_overlap "
            "FROM tr JOIN ev USING (g) GROUP BY tr.doc_id"
        ),
        "pack_sequences": (
            "WITH toks AS (SELECT doc_id, "
            "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens "
            "FROM documents), "
            "c AS (SELECT doc_id, n_tokens, "
            "CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) "
            "AS cum_before FROM toks) "
            "SELECT doc_id, n_tokens, "
            "CAST(floor(cum_before / 2048) AS BIGINT) AS seq_id, "
            "CAST(cum_before % 2048 AS BIGINT) AS seq_offset, "
            "CAST(least(n_tokens, 2048 - (cum_before % 2048)) AS BIGINT) "
            "AS tokens_in_first_seq FROM c"
        ),
        "rt_deleted_rows": (
            "SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars "
            "FROM documents WHERE lang <> 'de'"
        ),
        "rt_upserted_rows": (
            "SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars "
            "FROM documents WHERE doc_id % 7 <> 0 "
            "UNION ALL SELECT doc_id, 'xx' AS lang, "
            "CAST(n_chars + 1 AS BIGINT) AS n_chars "
            "FROM documents WHERE doc_id % 7 = 0 "
            "UNION ALL SELECT doc_id + 1000000, 'yy', CAST(n_chars AS BIGINT) "
            "FROM documents WHERE doc_id % 97 = 0"
        ),
        "rt_export_parquet_nested": (
            "SELECT doc_id, "
            "CASE WHEN doc_id % 5 = 2 THEN NULL "
            "ELSE array_to_string(string_split(text, ' ')[1:3], '|') END "
            "AS words_joined, "
            "CAST(CASE WHEN doc_id % 5 = 2 THEN -1 "
            "ELSE least(len(string_split(text, ' ')), 3) END AS BIGINT) "
            "AS n_words, "
            "CASE WHEN doc_id % 7 = 3 THEN NULL ELSE lang END AS lang, "
            "CAST(CASE WHEN doc_id % 7 = 3 THEN NULL ELSE n_chars END "
            "AS BIGINT) AS n, "
            "CAST(doc_id % 7 = 3 AS INT) AS meta_null, "
            "CAST(CAST(n_chars + 0.25 AS DECIMAL(20,2)) * 100 AS BIGINT) "
            "AS dec_c FROM documents"
        ),
        "rt_export_parquet_deep": (
            "SELECT doc_id, "
            "CASE WHEN doc_id % 11 = 4 THEN NULL ELSE lang END AS kv_lang, "
            "CAST(CASE WHEN doc_id % 11 = 4 THEN NULL ELSE n_chars END "
            "AS BIGINT) AS kv_len, "
            "CAST(doc_id % 11 = 4 AS INT) AS kv_null, "
            "CAST(CASE WHEN doc_id % 5 = 2 THEN -1 "
            "ELSE least(len(string_split(text, ' ')), 2) END AS BIGINT) "
            "AS n_ls, "
            "CASE WHEN doc_id % 5 = 2 THEN NULL "
            "ELSE array_to_string(string_split(text, ' ')[1:2], '|') END "
            "AS ws_joined, "
            "CAST(CASE WHEN doc_id % 5 = 2 THEN NULL "
            "ELSE list_aggregate(list_transform(string_split(text, ' ')[1:2], "
            "w -> length(w)), 'sum') END AS BIGINT) AS p_sum "
            "FROM documents"
        ),
        "rt_import_parquet_filtered": (
            "SELECT doc_id, lang FROM documents "
            "WHERE lang IN ('en', 'de') AND n_chars > 320"
        ),
        "rt_import_parquet_nested": (
            "SELECT doc_id, "
            "CASE WHEN doc_id % 5 = 2 THEN NULL "
            "ELSE array_to_string(string_split(text, ' ')[1:3], '|') END "
            "AS words_joined, "
            "CAST(CASE WHEN doc_id % 5 = 2 THEN -1 "
            "ELSE least(len(string_split(text, ' ')), 3) END AS BIGINT) "
            "AS n_words, "
            "CASE WHEN doc_id % 7 = 3 THEN NULL ELSE lang END AS lang, "
            "CAST(CASE WHEN doc_id % 7 = 3 THEN NULL ELSE n_chars END "
            "AS BIGINT) AS n, "
            "CASE WHEN doc_id % 11 = 4 THEN NULL ELSE lang END AS kv_lang, "
            "CAST(CASE WHEN doc_id % 11 = 4 THEN -1 ELSE 2 END AS BIGINT) "
            "AS n_kv FROM documents"
        ),
        "rt_geo": (
            "SELECT doc_id, "
            "CAST(CASE WHEN doc_id % 7 = 3 THEN NULL "
            "ELSE (doc_id % 360 - 180) * 100 + 50 END AS BIGINT) AS x_c, "
            "CAST(CASE WHEN doc_id % 7 = 3 THEN NULL "
            "ELSE (doc_id % 180 - 90) * 100 + 25 END AS BIGINT) AS y_c, "
            "CAST(CASE WHEN doc_id % 7 = 3 THEN -1 ELSE 21 END AS BIGINT) "
            "AS wkb_len, "
            "'GEOMETRY' AS geo_kind, 'OGC:CRS84' AS crs FROM documents"
        ),
        "rt_renamed_col": (
            "SELECT doc_id, lang AS language, CAST(n_chars AS BIGINT) "
            "AS n_chars FROM documents"
        ),
        "rt_time_travel": (
            "SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars "
            "FROM documents"
        ),
        "rt_variant": (
            "SELECT event_id, "
            "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k "
            "FROM events"
        ),
        "rt_variant_shredded": (
            "SELECT event_id, "
            "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k "
            "FROM events"
        ),
        "rt_narrow_types": (
            "SELECT doc_id, "
            "CAST(CAST(doc_id % 100 - 50 AS TINYINT) AS BIGINT) AS b_l, "
            "CAST(CAST(n_chars % 30000 - 15000 AS SMALLINT) AS BIGINT) AS s_l, "
            "CAST(CAST(n_chars % 1000 AS REAL) * 4 AS BIGINT) AS f4_l "
            "FROM documents"
        ),
        "rt_list_decimal": (
            "SELECT l_orderkey, l_linenumber, "
            "CASE WHEN l_linenumber % 7 <> 0 "
            "THEN l_partkey * 100 + l_suppkey % 100 ELSE -1 END AS a0_cents, "
            "CASE WHEN l_linenumber % 7 <> 0 AND l_partkey % 5 <> 0 "
            "THEN -(l_suppkey * 100 + 13) ELSE -1 END AS a1_cents, "
            "CASE WHEN l_linenumber % 7 <> 0 THEN 2 ELSE -1 END AS n_amts "
            "FROM lineitem"
        ),
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full encode->pages->decode round-trip of documents sf0.001."""
    return _rt_documents(spark, "/root/testdata/sf0.001")
