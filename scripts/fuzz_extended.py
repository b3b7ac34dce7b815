#!/usr/bin/env python
"""Extended differential-fuzz sweep over the committed generators.

The pytest suite pins a bounded seed range per fuzz family (CI time budget);
this driver re-runs the SAME test functions across a much wider seed space in
a process pool, so latent shape/encoding interactions surface before a user
hits them. Any failing (family, seed) prints at the end — pin it as a
regression seed in the matching test parametrize range.

Usage: python scripts/fuzz_extended.py [N_PER_FAMILY] [N_WORKERS] [SKIP]

SKIP shifts every family's seed window forward (on top of the CI-pinned
offset), so successive sweeps spend their budget on seeds no earlier sweep
has visited: sweep k of size N runs with SKIP = k * N.
"""
from __future__ import annotations

import multiprocessing as mp
import pathlib
import sys
import tempfile
import traceback

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))

FAMILIES = [
    # (module, function, seed_offset) — offset skips the CI-pinned range so
    # the sweep spends its budget on NEW seeds
    ("test_fuzz_file", "test_file_roundtrip_fuzz", 36),
    ("test_parquet_writer", "test_deep_nested_export_fuzz", 20),
    ("test_parquet_writer", "test_nested_export_fuzz", 24),
    ("test_parquet_writer", "test_fingerprint_gate_never_changes_bytes", 10),
    ("test_parquet_interop", "test_nested_assembly_fuzz", 12),
    ("test_parquet_interop", "test_nested_footer_flips_raise_cleanly", 24),
    ("test_interop_filters", "test_filter_fuzz_vs_pyarrow", 8),
    ("test_interop_filters", "test_nested_filter_fuzz_vs_pyarrow", 8),
    ("test_parquet_bloom", "test_bloom_fuzz_no_lost_rows", 4),
    ("test_late_materialization", "test_wcd_predicate_fuzz", 10),
    ("test_selection_on_demand", "test_lazy_selection_matches_eager", 24),
    ("test_fsst_kernels", "test_fsst_kernels_match_frozen", 16),
    ("test_prefix_kernels", "test_prefix_lengths_match_frozen", 16),
    ("test_snapshot_read", "test_read_file_fuzz_vs_pyarrow", 16),
]


def _run_one(job: tuple[str, str, int]) -> tuple[str, int, str] | None:
    mod_name, fn_name, seed = job
    import importlib

    fn = getattr(importlib.import_module(mod_name), fn_name)
    try:
        with tempfile.TemporaryDirectory() as d:
            fn(pathlib.Path(d), seed)
        return None
    except Exception:
        return (f"{mod_name}.{fn_name}", seed, traceback.format_exc(limit=4))


def main() -> int:
    n_per = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    workers = int(sys.argv[2]) if len(sys.argv) > 2 else max(mp.cpu_count() - 4, 4)
    skip = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    jobs = [
        (m, f, off + skip + i)
        for (m, f, off) in FAMILIES
        for i in range(n_per)
    ]
    fails: list[tuple[str, int, str]] = []
    with mp.Pool(workers) as pool:
        for i, res in enumerate(pool.imap_unordered(_run_one, jobs, chunksize=8)):
            if res is not None:
                fails.append(res)
                print(f"FAIL {res[0]} seed={res[1]}", flush=True)
            if (i + 1) % 400 == 0:
                print(f"... {i + 1}/{len(jobs)} trials", flush=True)
    print(f"done: {len(jobs)} trials, {len(fails)} failures")
    for fam, seed, tb in fails:
        print(f"--- {fam} seed={seed}\n{tb}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
