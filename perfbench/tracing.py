"""Timing spans around the engine's layer boundaries, installed from outside.

``Tracer.install()`` replaces each function named in ``LAYERS`` with a
wrapper that records a span ``(name, start, end, parent)`` and, for some
functions, counters taken from the arguments and the result. The original
function object is re-bound in every ``webcodec`` module that imported it by
name, so internal calls are caught too. ``Tracer.remove()`` puts every
original object back. Nothing inside ``webcodec/`` is edited.

Spans are kept in memory; ``Tracer.dump()`` writes them out. A span's self
time is its duration minus the time its child spans cover.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager


def _nbytes(x) -> int:
    return len(x) if isinstance(x, (bytes, bytearray, memoryview)) else 0


def _pages_in_footer(footer) -> int:
    if not isinstance(footer, dict):
        return 0
    groups = footer.get("groups") or [footer]
    return sum(len(c.get("pages") or ()) + (1 if c.get("dict") else 0)
               for g in groups for c in g.get("chunks", ()))


def _rows(t) -> int:
    return getattr(t, "num_rows", 0) or 0


# counters recorded per call: fn(args, kwargs, result) -> {counter: amount}
_COUNTERS = {
    "filefmt.compress": lambda a, k, r: {"in_bytes": _nbytes(a[0]), "out_bytes": _nbytes(r)},
    "filefmt.read_footer": lambda a, k, r: {"pages": _pages_in_footer(r)},
    "colcodec.encode_values": lambda a, k, r: {"in_bytes": a[0].nbytes, "out_bytes": _nbytes(r)},
    "colcodec.encode_dict_page": lambda a, k, r: {"in_bytes": a[0].nbytes, "out_bytes": _nbytes(r[0])},
    "colcodec.encode_dict_indices": lambda a, k, r: {"in_bytes": a[0].nbytes, "out_bytes": _nbytes(r)},
    "selector.is_compression_satisfying": lambda a, k, r: {"false": int(not r)},
    "kernels.bloom.might_contain": lambda a, k, r: {"false": int(not r)},
    "kernels.bloom.spec_might_contain": lambda a, k, r: {"false": int(not r)},
    "predicate.residual_filter": lambda a, k, r: {"rows_in": _rows(a[0]), "rows_out": _rows(r)},
    "spark.decode_job.plan_decode_splits": lambda a, k, r: {"splits": len(r)},
    "spark.table.SnapshotTable.data_files": lambda a, k, r: {
        "kept": len(r),
        "considered": len((a[0].read_snapshot(k.get("snapshot_id")) or {}).get("files", ())),
    },
}

# layer -> (module, function names). Names with a dot are class methods.
LAYERS = {
    "filefmt": ("webcodec.filefmt", [
        "write_table", "write_batches", "read_table", "read_footer", "read_footer_path",
        "compress", "decompress", "_read_page"]),
    "colcodec": ("webcodec.colcodec", [
        "encode_values", "decode_values", "encode_dict_page", "decode_dict_page",
        "encode_dict_indices", "decode_dict_indices"]),
    "stats": ("webcodec.stats", ["sample_stats", "page_stats"]),
    "selector": ("webcodec.selector", ["choose", "is_compression_satisfying"]),
    "predicate": ("webcodec.predicate", ["term_matches", "residual_filter"]),
    "kernels.fsst": ("webcodec.kernels.fsst", ["build_table", "encode", "decode"]),
    "kernels.alp": ("webcodec.kernels.alp", ["plan", "encode", "decode"]),
    "kernels.delta": ("webcodec.kernels.delta", ["encode", "decode", "decode_stream"]),
    "kernels.bitpack": ("webcodec.kernels.bitpack", ["pack", "unpack"]),
    "kernels.rle": ("webcodec.kernels.rle", ["encode", "decode", "encode_validity", "decode_validity"]),
    "kernels.deltalength": ("webcodec.kernels.deltalength", ["encode", "encode_parts", "decode", "from_parts"]),
    "kernels.dictionary": ("webcodec.kernels.dictionary", ["build", "encode_indices", "decode_indices", "take"]),
    "kernels.bloom": ("webcodec.kernels.bloom", [
        "hash_values", "hash_one", "build", "spec_build", "might_contain", "spec_might_contain"]),
    "kernels.xxh": ("webcodec.kernels.xxh", ["xxh64_values", "xxh64_scalar"]),
    "parquet_writer": ("webcodec.parquet_writer", ["write_parquet"]),
    "parquet_interop": ("webcodec.parquet_interop", ["read_footer_native", "read_table_arrow_native"]),
    "spark.encode_job": ("webcodec.spark.encode_job", [
        "encode_table", "plan_file_splits", "sample_domain_histogram", "plan_domain_ranges", "_commit"]),
    "spark.table": ("webcodec.spark.table", ["SnapshotTable.commit", "SnapshotTable.data_files"]),
    "spark.decode_job": ("webcodec.spark.decode_job", ["read_encoded", "plan_decode_splits"]),
    "spark.maintenance": ("webcodec.spark.maintenance", ["export_parquet"]),
}

# functions whose self time makes up each "*_s" per-layer metric
_SELF_TIME = {
    "filefmt.compress_s": ["filefmt.compress"],
    "filefmt.decompress_s": ["filefmt.decompress"],
    "filefmt.read_footer_s": ["filefmt.read_footer", "filefmt.read_footer_path"],
    "filefmt.write_table_self_s": ["filefmt.write_table", "filefmt.write_batches"],
    "filefmt.read_table_self_s": ["filefmt.read_table", "filefmt._read_page"],
    "colcodec.encode_self_s": ["colcodec.encode_values", "colcodec.encode_dict_page",
                               "colcodec.encode_dict_indices"],
    "colcodec.decode_self_s": ["colcodec.decode_values", "colcodec.decode_dict_page",
                               "colcodec.decode_dict_indices"],
    "stats.sample_s": ["stats.sample_stats"],
    "stats.page_stats_s": ["stats.page_stats"],
    "selector.choose_s": ["selector.choose"],
    "kernels.fsst.build_s": ["kernels.fsst.build_table"],
    "kernels.fsst.encode_s": ["kernels.fsst.encode"],
    "kernels.fsst.decode_s": ["kernels.fsst.decode"],
    "kernels.alp.encode_s": ["kernels.alp.plan", "kernels.alp.encode"],
    "kernels.alp.decode_s": ["kernels.alp.decode"],
    "kernels.delta.encode_s": ["kernels.delta.encode"],
    "kernels.delta.decode_s": ["kernels.delta.decode", "kernels.delta.decode_stream"],
    "kernels.bitpack.encode_s": ["kernels.bitpack.pack"],
    "kernels.bitpack.decode_s": ["kernels.bitpack.unpack"],
    "kernels.rle.encode_s": ["kernels.rle.encode", "kernels.rle.encode_validity"],
    "kernels.rle.decode_s": ["kernels.rle.decode", "kernels.rle.decode_validity"],
    "kernels.deltalength.encode_s": ["kernels.deltalength.encode", "kernels.deltalength.encode_parts"],
    "kernels.deltalength.decode_s": ["kernels.deltalength.decode", "kernels.deltalength.from_parts"],
    "kernels.dictionary.encode_s": ["kernels.dictionary.build", "kernels.dictionary.encode_indices"],
    "kernels.dictionary.decode_s": ["kernels.dictionary.decode_indices", "kernels.dictionary.take"],
    "kernels.bloom.hash_s": ["kernels.bloom.hash_values", "kernels.bloom.hash_one"],
    "kernels.bloom.build_s": ["kernels.bloom.build", "kernels.bloom.spec_build"],
    "kernels.xxh.hash_s": ["kernels.xxh.xxh64_values", "kernels.xxh.xxh64_scalar"],
    "predicate.residual_s": ["predicate.residual_filter"],
    "parquet_writer.write_s": ["parquet_writer.write_parquet"],
    "parquet_interop.read_footer_s": ["parquet_interop.read_footer_native"],
    "parquet_interop.read_s": ["parquet_interop.read_table_arrow_native"],
    "spark.encode_job.plan_s": [
        "spark.encode_job.plan_file_splits", "spark.encode_job.sample_domain_histogram",
        "spark.encode_job.plan_domain_ranges"],
    "spark.table.commit_s": ["spark.table.SnapshotTable.commit"],
    "spark.table.data_files_s": ["spark.table.SnapshotTable.data_files"],
    "spark.decode_job.plan_s": ["spark.decode_job.plan_decode_splits"],
}


def layer_metric_names() -> list[str]:
    """Every per-layer metric a traced run reports, in a fixed order."""
    calls = [f"{layer}.{fn}.calls" for layer, (_, fns) in LAYERS.items() for fn in fns]
    derived = [
        "filefmt.compress_in_bytes", "filefmt.compress_out_bytes", "filefmt.pages_total",
        "filefmt.pages_decoded", "colcodec.in_bytes", "colcodec.out_bytes",
        "selector.fallback_frac", "kernels.bloom.probes", "kernels.bloom.negative_frac",
        "predicate.terms_evaluated", "predicate.rows_in", "predicate.rows_out",
        "predicate.rows_per_result", "spark.encode_job.task_encode_s",
        "spark.encode_job.slot_busy_frac", "spark.encode_job.files_written",
        "spark.table.files_considered", "spark.table.files_pruned", "spark.decode_job.splits",
        "trace.overhead_frac", "trace.unattributed_frac",
    ]
    return list(_SELF_TIME) + derived + calls


def _resolve(module, dotted: str):
    owner, _, attr = dotted.rpartition(".")
    return (getattr(module, owner) if owner else module), attr


class Tracer:
    """Span recorder for one benchmark run. Single-threaded use only."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, name, start, end, parent, counters)
        self._stack: list[int] = []
        self._patches: list[tuple] = []  # (owner, attr, original)
        self._paused = 0

    # -- install / remove ------------------------------------------------
    def install(self) -> None:
        if self._patches:
            raise RuntimeError("tracer already installed")
        for layer, (modname, fns) in LAYERS.items():
            module = importlib.import_module(modname)
            for dotted in fns:
                owner, attr = _resolve(module, dotted)
                orig = owner.__dict__[attr]
                wrapper = self._wrap(f"{layer}.{dotted}", orig)
                self._patch(owner, attr, orig, wrapper)
                if owner is module:
                    # re-bind `from module import fn` copies in sibling modules
                    for other in list(sys.modules.values()):
                        if other is module or not getattr(other, "__name__", "").startswith("webcodec"):
                            continue
                        for name, val in list(vars(other).items()):
                            if val is orig:
                                self._patch(other, name, orig, wrapper)

    def _patch(self, owner, attr, orig, wrapper) -> None:
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def remove(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _wrap(self, name: str, fn):
        counters = _COUNTERS.get(name)
        clock = time.perf_counter
        spans, stack = self.spans, self._stack

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self._paused:
                return fn(*args, **kwargs)
            sid = len(spans)
            spans.append(None)  # reserve the id; filled on exit
            parent = stack[-1] if stack else -1
            stack.append(sid)
            start = clock()
            try:
                result = fn(*args, **kwargs)
            finally:
                end = clock()
                stack.pop()
                spans[sid] = (sid, name, start, end, parent, None)
            if counters is not None:
                spans[sid] = (sid, name, start, end, parent, counters(args, kwargs, result))
            return result

        return wrapper

    # -- spans the benchmark opens itself --------------------------------
    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        self.spans.append(None)
        parent = self._stack[-1] if self._stack else -1
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans[sid] = (sid, name, start, end, parent, None)

    @contextmanager
    def paused(self):
        """Calls made inside run unrecorded (benchmark bookkeeping)."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    # -- analysis --------------------------------------------------------
    def _self_per_span(self) -> list[float]:
        own = [0.0] * len(self.spans)
        for s in self.spans:
            if s is not None:
                own[s[0]] += s[3] - s[2]
                if s[4] >= 0:
                    own[s[4]] -= s[3] - s[2]
        return own

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name."""
        out: dict[str, float] = {}
        for s, own in zip(self.spans, self._self_per_span()):
            if s is not None:
                out[s[1]] = out.get(s[1], 0.0) + own
        return out

    def root_times(self) -> tuple[float, float]:
        """(summed wall, summed self time) of the spans that have no parent."""
        own = self._self_per_span()
        roots = [s for s in self.spans if s is not None and s[4] < 0]
        return sum(s[3] - s[2] for s in roots), sum(own[s[0]] for s in roots)

    def counts(self) -> tuple[dict[str, int], dict[str, dict[str, int]]]:
        calls: dict[str, int] = {}
        sums: dict[str, dict[str, int]] = {}
        for s in self.spans:
            if s is None:
                continue
            calls[s[1]] = calls.get(s[1], 0) + 1
            if s[5]:
                acc = sums.setdefault(s[1], {})
                for k, v in s[5].items():
                    acc[k] = acc.get(k, 0) + v
        return calls, sums

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics from the recorded spans (zero where a layer
        never ran). ``spark.*`` lineage numbers and ``trace.overhead_frac``
        are filled in by the workload, which knows the job walls."""
        st = self.self_times()
        calls, sums = self.counts()

        def total(name, key):
            return sums.get(name, {}).get(key, 0)

        m = {k: sum(st.get(n, 0.0) for n in names) for k, names in _SELF_TIME.items()}
        m["filefmt.compress_in_bytes"] = total("filefmt.compress", "in_bytes")
        m["filefmt.compress_out_bytes"] = total("filefmt.compress", "out_bytes")
        m["filefmt.pages_total"] = total("filefmt.read_footer", "pages")
        m["filefmt.pages_decoded"] = calls.get("filefmt._read_page", 0)
        enc = ("colcodec.encode_values", "colcodec.encode_dict_page", "colcodec.encode_dict_indices")
        m["colcodec.in_bytes"] = sum(total(n, "in_bytes") for n in enc)
        m["colcodec.out_bytes"] = sum(total(n, "out_bytes") for n in enc)
        n_sat = calls.get("selector.is_compression_satisfying", 0)
        m["selector.fallback_frac"] = total("selector.is_compression_satisfying", "false") / n_sat if n_sat else 0.0
        probes = ("kernels.bloom.might_contain", "kernels.bloom.spec_might_contain")
        m["kernels.bloom.probes"] = sum(calls.get(n, 0) for n in probes)
        neg = sum(total(n, "false") for n in probes)
        m["kernels.bloom.negative_frac"] = neg / m["kernels.bloom.probes"] if m["kernels.bloom.probes"] else 0.0
        m["predicate.terms_evaluated"] = calls.get("predicate.term_matches", 0)
        m["predicate.rows_in"] = total("predicate.residual_filter", "rows_in")
        m["predicate.rows_out"] = total("predicate.residual_filter", "rows_out")
        m["predicate.rows_per_result"] = (m["predicate.rows_in"] / m["predicate.rows_out"]
                                          if m["predicate.rows_out"] else 0.0)
        m["spark.decode_job.splits"] = total("spark.decode_job.plan_decode_splits", "splits")
        m["spark.table.files_considered"] = total("spark.table.SnapshotTable.data_files", "considered")
        m["spark.table.files_pruned"] = (m["spark.table.files_considered"]
                                         - total("spark.table.SnapshotTable.data_files", "kept"))
        for layer, (_, fns) in LAYERS.items():
            for fn in fns:
                m[f"{layer}.{fn}.calls"] = calls.get(f"{layer}.{fn}", 0)
        wall, root_self = self.root_times()
        m["trace.unattributed_frac"] = root_self / wall if wall else 0.0
        return m

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines: id, name, start, end, parent."""
        with open(path, "w") as f:
            for s in self.spans:
                if s is not None:
                    f.write(json.dumps({"id": s[0], "name": s[1], "start": s[2], "end": s[3],
                                        "parent": s[4], **({"counters": s[5]} if s[5] else {})}))
                    f.write("\n")


def summarize(path: str, top: int = 8) -> dict[str, list[tuple[str, float]]]:
    """Self time per span name under each root span name, from a dump:
    ``{"op.encode": [("filefmt.compress", 0.81), ...], ...}``, largest first."""
    spans = {}
    with open(path) as f:
        for line in f:
            s = json.loads(line)
            spans[s["id"]] = s
    own = {i: s["end"] - s["start"] for i, s in spans.items()}
    for s in spans.values():
        if s["parent"] >= 0:
            own[s["parent"]] -= s["end"] - s["start"]

    def root_of(s):
        while s["parent"] >= 0:
            s = spans[s["parent"]]
        return s["name"]

    out: dict[str, dict[str, float]] = {}
    for i, s in spans.items():
        acc = out.setdefault(root_of(s), {})
        acc[s["name"]] = acc.get(s["name"], 0.0) + own[i]
    return {r: sorted(v.items(), key=lambda kv: -kv[1])[:top] for r, v in sorted(out.items())}


if __name__ == "__main__":
    # python3 perfbench/tracing.py .bench_build/perfbench/trace-<workload>-<seed>.jsonl
    for root, rows in summarize(sys.argv[1]).items():
        print(root)
        for name, secs in rows:
            print(f"    {name:45s} {secs:9.4f} s")
