"""The benchmark's four workloads and their output oracle.

A workload turns one cached input into a *cycle*: an ordered list of
operations, each a timed call into the engine plus an untimed check of its
output. The runner repeats cycles (closed loop, one client) until the run's
time is up. Every cycle holds one operation of each kind in ``KINDS``, so
every workload reports every end-to-end metric:

================  ====================================================
kind              operation
================  ====================================================
encode            speed-profile write of the input as generated
decode            full read of that file
archive_encode    archive-profile write (FSST trial on strings)
archive_decode    full read of that file
clustered_encode  write with rows clustered by the workload's key
export            parquet export of the input (our writer)
import            parquet import of that export (our reader)
scan              seeded selective read, checked against pyarrow.compute
ref_write         the reference writer on the same input (after each write)
ref_read          the reference reader (after each read)
ref_scan          the reference's filtered read (after each scan)
================  ====================================================
"""

from __future__ import annotations

import io
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

KINDS = ("encode", "decode", "archive_encode", "archive_decode", "clustered_encode",
         "export", "import", "scan", "ref_write", "ref_read", "ref_scan")


@dataclass
class Op:
    kind: str
    run: Callable[[], object]             # the timed engine call
    check: Callable[[object], bool]       # untimed oracle on its output
    before: Callable[[], None] | None = None  # untimed preparation


def canon(t: pa.Table) -> pa.Table:
    """The table's rows in a canonical order, for row-multiset comparison."""
    t = t.combine_chunks()
    keys = [(f.name, "ascending") for f in t.schema if not pa.types.is_nested(f.type)]
    return t.sort_by(keys) if keys and t.num_rows > 1 else t


def same_rows(got: pa.Table, want: pa.Table) -> bool:
    """True when ``got`` holds exactly ``want``'s row multiset. Column order
    and timestamp time-zone annotations (parquet marks timestamps UTC) are
    normalised first; values are compared exactly."""
    if sorted(got.column_names) != sorted(want.column_names) or got.num_rows != want.num_rows:
        return False
    got = got.select(want.column_names)
    if not got.schema.equals(want.schema):
        try:
            got = got.cast(want.schema)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError):
            return False
    return canon(got).equals(canon(want))


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class Query:
    """One selective read: projection, predicate and the expected rows."""

    def __init__(self, table: pa.Table, columns: list[str], predicate: list[tuple], mask):
        self.columns = columns
        self.predicate = predicate
        self.expected = canon(table.filter(mask).select(columns))


class InProcessWorkload:
    """Engine calls made directly from this process, single-threaded."""

    kind = ""           # generator in gen.GENERATORS
    rows = {"full": 0, "tiny": 0}
    warm_rows = 0
    cluster_key = ""
    bloom_columns: frozenset = frozenset()
    scans_per_cycle = 4  # one of each query shape
    scan_file = "speed"  # which .wcd file the scans read
    # runs of each operation per cycle, so short operations gather enough
    # samples for a steady median; unlisted kinds run once
    repeats: dict[str, int] = {}

    def __init__(self, seed: int, size: str, cache_dir: str, work_dir: str):
        self.table, self.info = gen.load(self.kind, seed, self.rows[size], cache_dir)
        self.work_dir = work_dir
        self.rng = np.random.default_rng([seed, 17])
        self.bytes: dict[str, int] = {}
        self.spark_master = None
        self._sorted: dict[int, pa.Table] = {}

    def setup(self) -> None:
        """Warm-up pass: one full cycle on the first rows of the input."""
        warm = self.table.slice(0, self.warm_rows)
        for op in self._cycle(warm, os.path.join(self.work_dir, "warm"), 4):
            if not op.check(op.run()):
                raise RuntimeError(f"warm-up {op.kind} failed its check")

    def prepare(self) -> None:
        self.bytes = {}

    def cycle(self) -> list[Op]:
        return self._cycle(self.table, os.path.join(self.work_dir, "run"), self.scans_per_cycle)

    def close(self) -> None:
        _rmtree(self.work_dir)

    # -- operations ------------------------------------------------------
    def _cycle(self, t: pa.Table, d: str, n_scans: int) -> list[Op]:
        """One pass over every operation kind. ``.wcd`` files are written to
        and read from memory buffers (the filefmt API takes both), so the
        figures measure the engine rather than this host's disk; the parquet
        export and import go through a file, which their API requires."""
        from webcodec import filefmt, parquet_interop, parquet_writer
        from webcodec.config import EncoderConfig

        os.makedirs(d, exist_ok=True)
        export = os.path.join(d, "export.parquet")
        if t.num_rows not in self._sorted:
            self._sorted[t.num_rows] = t.take(pc.sort_indices(t, sort_keys=[(self.cluster_key, "ascending")]))
        by_key = self._sorted[t.num_rows]
        expect = {"speed": t, "archive": t, "clustered": by_key}
        files: dict[str, bytes] = {}  # name -> bytes of the latest write

        def write(name, config, **kw):
            def run():
                buf = io.BytesIO()
                if kw:
                    footer = filefmt.write_batches(t.to_batches(), buf, config, **kw)
                else:
                    footer = filefmt.write_table(t, buf, config)
                return footer, buf

            def check(out):
                footer, buf = out
                files[name] = buf.getvalue()
                self.bytes[name] = len(files[name])
                if name == "clustered":  # no timed decode reads this file back
                    return filefmt.read_table(files[name]).equals(by_key)
                return footer["num_rows"] == t.num_rows
            return run, check

        def read(name):
            return lambda: filefmt.read_table(files[name])

        def decoded(name):
            return lambda got: got.equals(expect[name])

        def exported(_):
            self.bytes["export"] = os.path.getsize(export)
            return same_rows(pq.read_table(export), t)

        # the pyarrow reference writer and reader on the same input; every
        # engine operation is followed by one, so both see the same host
        ref: dict[str, bytes] = {}

        def ref_write():
            sink = pa.BufferOutputStream()
            pq.write_table(t, sink, compression="zstd")
            return sink.getvalue()

        def ref_written(buf):
            ref["parquet"] = buf
            return buf.size > 0

        ref_ops = {"write": Op("ref_write", ref_write, ref_written),
                   "read": Op("ref_read", lambda: pq.read_table(pa.BufferReader(ref["parquet"])),
                              lambda got: got.equals(t))}
        r = self.repeats
        ops = []
        for name, kind, config, kw in (("speed", "encode", EncoderConfig.speed(), {}),
                                       ("archive", "archive_encode", EncoderConfig.archive(), {}),
                                       ("clustered", "clustered_encode", EncoderConfig.speed(),
                                        {"sort_key": self.cluster_key})):
            ops += [Op(kind, *write(name, config, **kw)), ref_ops["write"]] * r.get(kind, 1)
            if name != "clustered":
                dec = kind.replace("encode", "decode")
                ops += [Op(dec, read(name), decoded(name)), ref_ops["read"]] * r.get(dec, 1)
        ops += [Op("export", lambda: parquet_writer.write_parquet(
            t, export, codec="zstd", bloom_filter_columns=self.bloom_columns or None), exported),
            ref_ops["write"]] * r.get("export", 1)
        ops += [Op("import", lambda: parquet_interop.read_table_arrow_native(export),
                   lambda got: got.equals(t)), ref_ops["read"]] * r.get("import", 1)
        for q in self.queries(expect[self.scan_file], n_scans):
            check = (lambda got, q=q: same_rows(got, q.expected))
            ops.append(Op("scan", lambda q=q: filefmt.read_table(files[self.scan_file], columns=q.columns,
                                                                 predicate=q.predicate), check))
            ops.append(Op("ref_scan", lambda q=q: pq.read_table(
                pa.BufferReader(ref["parquet"]), columns=q.columns, filters=q.predicate), check))
        return ops

    def queries(self, t: pa.Table, n: int) -> list[Query]:
        raise NotImplementedError


class Webpages(InProcessWorkload):
    kind = "webpages"
    # large enough that the selector's 4,096-value sample is half the rows,
    # not all of them, as it is on real inputs
    rows = {"full": 8_000, "tiny": 400}
    warm_rows = 400
    cluster_key = "url"
    bloom_columns = frozenset({"url"})
    repeats = {"encode": 2, "decode": 4, "archive_decode": 2, "clustered_encode": 2, "import": 3}

    def queries(self, t: pa.Table, n: int) -> list[Query]:
        url, ts = t["url"], t["warc_ts"]
        out = []
        for i in range(n):
            which = i % 4
            if which == 0:  # url == present
                u = url[int(self.rng.integers(0, t.num_rows))].as_py()
                out.append(Query(t, ["text"], [("url", "==", u)], pc.equal(url, u)))
            elif which == 1:  # url == absent (bloom tier)
                u = url[int(self.rng.integers(0, t.num_rows))].as_py() + "?absent"
                out.append(Query(t, ["text"], [("url", "==", u)], pc.equal(url, u)))
            elif which == 2:  # warc_ts range of seeded width (page-stat tier)
                lo = ts[int(self.rng.integers(0, t.num_rows))].value
                hi = lo + int(gen.TS_SPAN * 10 ** self.rng.uniform(-4, -1.5))
                lo_s, hi_s = pa.scalar(lo, ts.type), pa.scalar(hi, ts.type)
                out.append(Query(t, ["text"], [("warc_ts", ">=", lo_s.as_py()), ("warc_ts", "<", hi_s.as_py())],
                                 pc.and_(pc.greater_equal(ts, lo_s), pc.less(ts, hi_s))))
            else:  # rare language (dictionary tier)
                out.append(Query(t, ["text"], [("lang", "==", "is")], pc.equal(t["lang"], "is")))
        return out


class Lineitem(InProcessWorkload):
    kind = "lineitem"
    rows = {"full": 80_000, "tiny": 5_000}
    warm_rows = 5_000
    cluster_key = "l_orderkey"
    scan_file = "clustered"  # sorted by l_orderkey: page stats prune on the sort key

    def queries(self, t: pa.Table, n: int) -> list[Query]:
        key = t["l_orderkey"]
        kmax = pc.max(key).as_py()
        cols = ["l_orderkey", "l_extendedprice", "l_discount"]
        out = []
        for i in range(n):
            width = int(kmax * 10 ** self.rng.uniform(-4, -1))
            lo = int(self.rng.integers(0, kmax))
            pred = [("l_orderkey", ">=", lo), ("l_orderkey", "<", lo + width)]
            mask = pc.and_(pc.greater_equal(key, lo), pc.less(key, lo + width))
            if i % 4 == 3:  # a residual term the page stats cannot prune
                pred.append(("l_returnflag", "==", "R"))
                mask = pc.and_(mask, pc.equal(t["l_returnflag"], "R"))
            out.append(Query(t, cols, pred, mask))
        return out


class NestedInterop(InProcessWorkload):
    kind = "nested"
    rows = {"full": 8_000, "tiny": 300}
    warm_rows = 300
    cluster_key = "url"
    bloom_columns = frozenset({"url"})

    def queries(self, t: pa.Table, n: int) -> list[Query]:
        """url == on present urls and, one in four, an absent url (bloom
        tier), projecting nested columns."""
        url = t["url"]
        out = []
        for i in range(n):
            u = url[int(self.rng.integers(0, t.num_rows))].as_py()
            if i % 4 == 1:
                u += "?absent"
            out.append(Query(t, ["url", "links", "price"], [("url", "==", u)], pc.equal(url, u)))
        return out


class WebpagesSpark:
    """The webpages input encoded and read through the Spark jobs
    (``local[nproc]``). Engine work happens in Spark's Python workers."""

    rows = {"full": 3_000, "tiny": 400}
    warm_rows = 400
    scans_per_cycle = 10
    min_cycles = 2     # each Spark job is a single noisy draw: take several

    def __init__(self, seed: int, size: str, cache_dir: str, work_dir: str):
        self.nproc = len(os.sched_getaffinity(0))
        rows = self.rows[size]
        # row groups sized so files-mode splits fill every slot
        groups = 2 * self.nproc
        self.table, self.info = gen.load("webpages", seed, rows, cache_dir, groups, self.warm_rows)
        self.input_path, self.warm_path = gen.parquet_paths(
            os.path.join(cache_dir, gen.cache_key("webpages", seed, rows)), groups, self.warm_rows)
        self.work_dir = work_dir
        self.rng = np.random.default_rng([seed, 17])
        self.bytes: dict[str, int] = {}
        self.spark_master = f"local[{self.nproc}]"
        self.spark = None
        self.lineage = {"task_encode_s": 0.0, "files_written": 0}
        self.tracing = False

    def setup(self) -> None:
        """Spark session start plus a warm-up encode and read."""
        from webcodec.spark.session import get_spark

        local = os.path.join(self.work_dir, "spark-local")
        os.makedirs(local, exist_ok=True)
        self.spark = get_spark(
            "perfbench", master=self.spark_master, shuffle_partitions=2 * self.nproc,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        warm = self.table.slice(0, self.warm_rows)
        d = os.path.join(self.work_dir, "warm")
        for op in self._encode_decode_ops(self.warm_path, warm, d):
            if not op.check(op.run()):
                raise RuntimeError(f"warm-up {op.kind} failed its check")

    def prepare(self) -> None:
        self.bytes = {}
        self._expected_digest = self._digest(self.spark.read.parquet(self.input_path))

    def close(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                # the JVM exits when its stdin closes; wait for it so no
                # process outlives the run
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
            self.spark = None
        _rmtree(self.work_dir)

    # -- operations ------------------------------------------------------
    @staticmethod
    def _digest(df):
        """Row count and an order-free checksum over every column."""
        from pyspark.sql import functions as F

        cols = [F.col(c).cast("string") if c == "warc_ts" else F.col(c) for c in df.columns]
        row = df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).collect()[0]
        return int(row[0]), row[1]

    def _encode_op(self, kind: str, name: str, src: str, t: pa.Table, d: str, mode: str, config) -> Op:
        """encode_table into a fresh ``d`` (an existing table would resume);
        ``name`` keys the written bytes like the in-process workloads do."""
        from webcodec.spark.encode_job import encode_table

        df = self.spark.read.parquet(src)
        split = max(t.nbytes // (2 * self.nproc), 1 << 20)

        def check(snap):
            self.bytes[name] = int(snap["total_compressed_bytes"])
            if self.tracing:
                self._record_lineage(d)
            return int(snap["total_rows"]) == t.num_rows

        return Op(kind, lambda: encode_table(df, d, config=config, url_col="url", mode=mode,
                                             write_metrics=False, target_partition_bytes=split),
                  check, lambda: _rmtree(d))

    def _encode_decode_ops(self, src: str, t: pa.Table, d: str) -> list[Op]:
        from webcodec.config import EncoderConfig

        files = os.path.join(d, "files")
        return [
            self._encode_op("encode", "speed", src, t, files, "files", EncoderConfig.speed()),
            Op("decode", self._read_all(files), self._digest_matches(src)),
        ]

    def _record_lineage(self, table_dir: str) -> None:
        """Sum the per-file encode seconds the footers carry (the value
        lineage rows record) for a table written by a traced operation."""
        from webcodec import filefmt
        from webcodec.spark.table import SnapshotTable

        files = SnapshotTable(table_dir).read_snapshot()["files"]
        self.lineage["files_written"] += len(files)
        self.lineage["task_encode_s"] += sum(
            filefmt.read_footer_path(os.path.join(table_dir, f["path"]))["encode_secs"] for f in files)

    def _read_all(self, table_dir: str):
        from webcodec.spark.decode_job import read_encoded

        return lambda: self._digest(read_encoded(self.spark, table_dir))

    def _digest_matches(self, src: str):
        if src == self.input_path:
            return lambda got: got == self._expected_digest
        return lambda got: got[0] == self.warm_rows  # warm-up: row count only

    def cycle(self) -> list[Op]:
        from webcodec.config import EncoderConfig
        from webcodec.spark.decode_job import read_encoded
        from webcodec.spark.maintenance import export_parquet

        t, d = self.table, os.path.join(self.work_dir, "run")
        arch, clus = os.path.join(d, "archive"), os.path.join(d, "clustered")
        export, imported = os.path.join(d, "export"), os.path.join(d, "import")
        files = os.path.join(d, "files")
        ops = self._encode_decode_ops(self.input_path, t, d)

        def exported(_):
            self.bytes["export"] = sum(os.path.getsize(os.path.join(export, f))
                                       for f in os.listdir(export) if f.endswith(".parquet"))
            return same_rows(pq.read_table(export), t)

        def do_import():
            from webcodec.spark.encode_job import encode_table

            return encode_table(self.spark.read.parquet(export), imported, config=EncoderConfig.speed(),
                                mode="files", write_metrics=False)

        def import_check(snap):
            return (int(snap["total_rows"]) == t.num_rows
                    and self._digest(read_encoded(self.spark, imported)) == self._expected_digest)

        ops += [
            self._encode_op("archive_encode", "archive", self.input_path, t, arch, "files",
                            EncoderConfig.archive()),
            Op("archive_decode", self._read_all(arch), self._digest_matches(self.input_path)),
            self._encode_op("clustered_encode", "clustered", self.input_path, t, clus, "clustered",
                            EncoderConfig.speed()),
            Op("export", lambda: export_parquet(self.spark, files, export), exported, lambda: _rmtree(export)),
            Op("import", do_import, import_check, lambda: _rmtree(imported)),
        ]
        # Spark's own parquet writer and reader on the same input; every
        # engine job is followed by one, so both see the same host
        ref = os.path.join(d, "reference")
        ref_write = Op("ref_write", lambda: self.spark.read.parquet(self.input_path).write.mode("overwrite")
                       .option("compression", "zstd").parquet(ref),
                       lambda _: any(f.endswith(".parquet") for f in os.listdir(ref)))
        ref_read = Op("ref_read", lambda: self._digest(self.spark.read.parquet(ref)),
                      lambda got: got[0] == t.num_rows)
        ops = [x for op in ops for x in (op, ref_read if op.kind.endswith("decode") else ref_write)]
        for q in self.queries(t, self.scans_per_cycle):
            src = clus if q.predicate[0][1] != "==" else files
            check = (lambda got, q=q: same_rows(got, q.expected))
            ops.append(Op("scan", lambda q=q, src=src: read_encoded(
                self.spark, src, columns=q.columns, predicate=q.predicate).toArrow(), check))
            ops.append(Op("ref_scan", lambda q=q: self._filtered(ref, q).toArrow(), check))
        return ops

    def _filtered(self, path: str, q: Query):
        from pyspark.sql import functions as F

        cond = None
        for col, op, value in q.predicate:
            c = {"==": F.col(col) == value, ">=": F.col(col) >= value, "<": F.col(col) < value}[op]
            cond = c if cond is None else cond & c
        return self.spark.read.parquet(path).filter(cond).select(*q.columns)

    def queries(self, t: pa.Table, n: int) -> list[Query]:
        """url ranges on the clustered table (one in four), url equality on
        the files table. The equality reads form the majority so that the
        median and the tail fall inside one group at this sample count."""
        url = t["url"]
        out = []
        for i in range(n):
            if i % 4:
                u = url[int(self.rng.integers(0, t.num_rows))].as_py()
                out.append(Query(t, ["text"], [("url", "==", u)], pc.equal(url, u)))
                continue
            a = int(self.rng.integers(0, 380))
            lo, hi = f"https://site{a:04d}", f"https://site{a + int(self.rng.integers(1, 21)):04d}"
            out.append(Query(t, ["url", "text"], [("url", ">=", lo), ("url", "<", hi)],
                             pc.and_(pc.greater_equal(url, lo), pc.less(url, hi))))
        return out


WORKLOADS = {
    "webpages": Webpages,
    "lineitem": Lineitem,
    "nested_interop": NestedInterop,
    "webpages_spark": WebpagesSpark,
}
