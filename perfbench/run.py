"""webcodec benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload webpages --seed 1 --seconds 10 --trace 0

Run from the repository root. The input is generated from ``--seed`` by
``perfbench/gen.py`` (cached under ``.bench_build/perfbench``); the engine
receives only that input. Operations run closed loop with one client until
``--seconds`` have passed (always at least one full cycle), and every
output is checked against an oracle.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates plain
and traced cycles and prints the per-layer metrics, normalised per traced
cycle. The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it carries run context (core count, Spark
master, pyarrow threads, sample counts, host canary). See
``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

# modules a user of each workload imports before the first operation
ENGINE_IMPORTS = {
    "in_process": ["numpy", "pyarrow", "pyarrow.compute", "webcodec.filefmt",
                   "webcodec.parquet_writer", "webcodec.parquet_interop"],
    "spark": ["pyarrow", "pyspark.sql", "webcodec.spark.encode_job", "webcodec.spark.decode_job",
              "webcodec.spark.maintenance"],
}
# setups per run; setup_s is their median. A Spark setup (JVM, session,
# Python workers) costs ~14 s, so that family sets up twice.
SETUP_SAMPLES = {"in_process": 3, "spark": 2}

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "encode_vs_ref": "ratio", "decode_vs_ref": "ratio",
    "archive_encode_vs_ref": "ratio", "archive_decode_vs_ref": "ratio",
    "clustered_encode_vs_ref": "ratio", "export_vs_ref": "ratio", "import_vs_ref": "ratio",
    "scan_p50_vs_ref": "ratio", "scan_tail_vs_ref": "ratio",
    "size_vs_ref": "ratio", "archive_size_vs_ref": "ratio", "export_size_vs_ref": "ratio",
    "mem_peak_mb": "MB",
}
# engine operation kind -> the reference operation its time is divided by
REFERENCE_OF = {
    "encode": "ref_write", "decode": "ref_read", "archive_encode": "ref_write",
    "archive_decode": "ref_read", "clustered_encode": "ref_write", "export": "ref_write",
    "import": "ref_read",
}
# per-layer metrics that are ratios; every other one is a per-cycle total
_RATIOS = {"selector.fallback_frac", "kernels.bloom.negative_frac", "predicate.rows_per_result",
           "spark.encode_job.slot_busy_frac", "trace.overhead_frac", "trace.unattributed_frac"}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def family(workload: str) -> str:
    return "spark" if workload.endswith("_spark") else "in_process"


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than eleven."""
    xs = sorted(xs)
    if len(xs) < 11:
        return xs[-1], 100.0
    return xs[-11], 100.0 * (len(xs) - 10) / len(xs)


def canary_s() -> float:
    """Single-process host-speed probe: median of seven zstd passes over a
    fixed 4 MB buffer. Reported as context, never as a metric."""
    import numpy as np
    import pyarrow as pa

    buf = np.random.default_rng(0).integers(0, 64, 4 << 20, dtype=np.uint8).tobytes()
    codec = pa.Codec("zstd", compression_level=1)
    times = []
    for _ in range(7):
        t = time.perf_counter()
        codec.compress(buf, asbytes=True)
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def probe_setup(args) -> float:
    """setup_s of one fresh process (imports, session, warm-up)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload, "--seed",
           str(args.seed), "--size", args.size, "--setup-probe"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    if r.returncode != 0:
        raise RuntimeError(f"setup probe failed:\n{r.stderr[-2000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])["setup_s"]


def measure(w, seconds: float, tracer) -> dict:
    """Closed loop over the workload's cycles; returns samples and counts."""
    from workloads import KINDS

    samples: dict[str, list[float]] = {k: [] for k in KINDS}
    walls = {"plain": [], "traced": []}
    attempted = failed = cycles = 0
    min_cycles = getattr(w, "min_cycles", 1) * (2 if tracer else 1)
    deadline = time.perf_counter() + seconds
    while cycles < min_cycles or time.perf_counter() < deadline:
        traced = tracer is not None and cycles % 2 == 1
        ops = w.cycle()
        if traced:
            tracer.install()
            w.tracing = True
        wall = 0.0
        try:
            for op in ops:
                if op.before is not None:
                    with tracer.paused() if traced else nullcontext():
                        op.before()
                # flush earlier operations' files, so their write-back does
                # not land inside this operation's time
                os.sync()
                attempted += 1
                try:
                    # reference operations run no engine code: they get no span
                    spanned = traced and not op.kind.startswith("ref_")
                    with tracer.span(f"op.{op.kind}") if spanned else nullcontext():
                        t = time.perf_counter()
                        out = op.run()
                        dt = time.perf_counter() - t
                    wall += dt
                    with tracer.paused() if traced else nullcontext():
                        ok = op.check(out)
                except Exception:  # a raising operation counts as failed, the run goes on
                    log(f"{op.kind} raised:\n{traceback.format_exc()}")
                    ok = False
                if ok:
                    samples[op.kind].append(dt)
                else:
                    failed += 1
                    log(f"{op.kind} failed its check")
        finally:
            if traced:
                tracer.remove()
                w.tracing = False
        walls["traced" if traced else "plain"].append(wall)
        cycles += 1
    return {"samples": samples, "walls": walls, "attempted": attempted, "failed": failed,
            "cycles": cycles}


def end_to_end(w, m: dict, setup: list[float], mem_mb: float) -> tuple[dict, dict]:
    """Time metrics are the engine's median time over the reference's median
    time in the same run; absolute MB/s and ms go to the context line."""
    s = {k: v for k, v in m["samples"].items() if v}
    med = {k: statistics.median(v) for k, v in s.items()}
    raw_mb = w.info["raw_bytes"] / 1e6
    ref_bytes = w.info["ref_bytes"]
    scan_tail, tail_pct = tail(s["scan"])
    values = {"setup_s": statistics.median(setup)}
    values.update({f"{k}_vs_ref": med[k] / med[r] for k, r in REFERENCE_OF.items()})
    values["scan_p50_vs_ref"] = med["scan"] / med["ref_scan"]
    values["scan_tail_vs_ref"] = scan_tail / tail(s["ref_scan"])[0]
    values["size_vs_ref"] = w.bytes["speed"] / ref_bytes
    values["archive_size_vs_ref"] = w.bytes["archive"] / ref_bytes
    values["export_size_vs_ref"] = w.bytes["export"] / ref_bytes
    values["mem_peak_mb"] = mem_mb
    context = {
        "setup_samples_s": setup,
        "mbps": {k: raw_mb / med[k] for k in (*REFERENCE_OF, "ref_write", "ref_read")},
        "scan_ms_p50": med["scan"] * 1e3, "scan_ms_tail": scan_tail * 1e3,
        "scan_tail_percentile": round(tail_pct, 1),
        "clustered_size_vs_ref": w.bytes["clustered"] / ref_bytes,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}, context


def per_layer(w, m: dict, tracer) -> dict:
    from tracing import layer_metric_names

    n = max(len(m["walls"]["traced"]), 1)
    v = tracer.layer_metrics()
    plain, traced = m["walls"]["plain"], m["walls"]["traced"]
    v["trace.overhead_frac"] = (statistics.mean(traced) / statistics.mean(plain) - 1) if plain and traced else 0.0
    lineage = getattr(w, "lineage", None)
    if lineage:
        enc_wall = sum(s[3] - s[2] for s in tracer.spans if s is not None and s[4] < 0
                       and s[1] in ("op.encode", "op.archive_encode", "op.clustered_encode"))
        v["spark.encode_job.task_encode_s"] = lineage["task_encode_s"]
        v["spark.encode_job.files_written"] = lineage["files_written"]
        v["spark.encode_job.slot_busy_frac"] = (lineage["task_encode_s"] / (enc_wall * w.nproc)
                                               if enc_wall else 0.0)
    out = {}
    for name in layer_metric_names():
        x = v.get(name, 0.0)
        if name not in _RATIOS:
            x = x / n
        unit = "ratio" if name in _RATIOS else ("s" if name.endswith("_s") else
                                                "bytes" if name.endswith("_bytes") else "count")
        out[name] = {"value": x, "unit": unit}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the benchmark's own tests")
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "webcodec", "__init__.py")):
        log(f"no webcodec package under {ROOT}: run from the repository root")
        return 2
    fam = family(args.workload)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(BUILD, "tmp")
    # Spark's Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, ROOT)

    t = time.perf_counter()
    import importlib

    for mod in ENGINE_IMPORTS[fam]:
        importlib.import_module(mod)
    import_s = time.perf_counter() - t

    import pyarrow as pa

    sys.path.insert(0, HERE)
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    pa.set_cpu_count(1)  # in-process work is single-threaded; Spark tasks use local[nproc]
    pa.set_io_thread_count(1)
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    w = WORKLOADS[args.workload](args.seed, args.size, os.path.join(BUILD, "inputs"), work)
    try:
        if args.setup_probe:
            t = time.perf_counter()
            w.setup()
            print(json.dumps({"setup_s": import_s + time.perf_counter() - t}))
            return 0
        canary = canary_s()
        n_setup = SETUP_SAMPLES[fam] if args.size == "full" else 2
        setup = [probe_setup(args) for _ in range(n_setup - 1)]
        t = time.perf_counter()
        w.setup()
        setup.append(import_s + time.perf_counter() - t)
        w.prepare()
        # keep the collector from re-scanning the benchmark's own long-lived
        # objects (inputs, expected results) during timed operations
        gc.collect()
        gc.freeze()
        base_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        tracer = Tracer() if args.trace else None
        m = measure(w, args.seconds, tracer)
        mem_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - base_kb) / 1024
        context = {
            "workload": args.workload, "seed": args.seed, "nproc": nproc(),
            "spark_master": w.spark_master, "pyarrow_threads": pa.cpu_count(),
            "input_rows": w.info["rows"], "input_raw_bytes": w.info["raw_bytes"],
            "ref_bytes": w.info["ref_bytes"], "cycles": m["cycles"],
            "samples": {k: len(v) for k, v in m["samples"].items()},
            "failed_frac": m["failed"] / max(m["attempted"], 1), "canary_s": canary,
        }
        if args.trace:
            metrics = per_layer(w, m, tracer)
            tracer.dump(os.path.join(BUILD, f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics, extra = end_to_end(w, m, setup, mem_mb)
            context.update(extra)
    finally:
        w.close()
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": m["failed"] == 0, "attempted": m["attempted"],
                      "failed": m["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
