"""Tests of the benchmark itself: oracle, generators, tracer, output shape.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import importlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "0.5", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


# -- output shape ---------------------------------------------------------

def test_spec_matches_code():
    # webpages_spark runs on demand; it is not in the gated set (see README)
    assert [w["name"] for w in SPEC["workloads"]] == ["webpages", "lineitem", "nested_interop"]
    assert set(workloads.WORKLOADS) == {w["name"] for w in SPEC["workloads"]} | {"webpages_spark"}
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in SPEC["per_layer"]] == tracing.layer_metric_names()


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_prints_every_end_to_end_metric(workload):
    r = _run(workload, 0)
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    for name, v in result["metrics"].items():
        if name != "mem_peak_mb":  # tiny inputs may stay under the setup peak
            assert v["value"] > 0, name


def test_smoke_trace_prints_every_layer_metric():
    r = _run("webpages", 1)
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["filefmt.compress_s"] > 0 and m["kernels.fsst.encode_s"] > 0
    assert m["parquet_writer.write_s"] > 0 and m["spark.table.commit_s"] == 0
    assert 0 <= m["trace.unattributed_frac"] < 1


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    r = _run("webpages", 0, cwd=str(tmp_path))
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout


def test_tail_has_ten_samples_beyond_it():
    xs = list(range(100))
    value, pct = run.tail(xs)
    assert sum(x > value for x in xs) == 10 and pct == 90.0
    assert run.tail([3.0, 1.0]) == (3.0, 100.0)


# -- oracle ---------------------------------------------------------------

class _Replay:
    """A workload stub that replays one list of operations."""

    def __init__(self, ops):
        self.ops = ops

    def cycle(self):
        return self.ops


def test_corrupted_decode_counts_as_failure(tmp_path):
    w = workloads.Webpages(5, "tiny", str(tmp_path / "inputs"), str(tmp_path / "work"))
    cycle = w.cycle()
    ops = [next(op for op in cycle if op.kind == kind) for kind in ("encode", "decode")]
    good = run.measure(_Replay(ops), 0, None)
    assert good["failed"] == 0 and good["attempted"] == 2

    def corrupt(run_decode=ops[1].run):
        t = run_decode()
        text = t["text"].to_pylist()
        text[0] = text[0][:-1] + "#"  # one byte of one row
        return t.set_column(t.schema.get_field_index("text"), "text", pa.array(text))

    bad = [ops[0], workloads.Op("decode", corrupt, ops[1].check)]
    out = run.measure(_Replay(bad), 0, None)
    assert out["failed"] == 1 and out["attempted"] == 2
    assert out["samples"]["decode"] == []
    w.close()


def test_raising_operation_counts_as_failure():
    def boom():
        raise ValueError("corrupt page")

    out = run.measure(_Replay([workloads.Op("scan", boom, lambda _: True)]), 0, None)
    assert out["failed"] == 1 and out["attempted"] == 1


def test_same_rows_is_order_free_and_exact():
    t = pa.table({"a": [1, 2, 2], "b": ["x", "y", "z"]})
    assert workloads.same_rows(t.take([2, 0, 1]), t)
    assert not workloads.same_rows(t.slice(0, 2), t)
    assert not workloads.same_rows(pa.table({"a": [1, 2, 2], "b": ["x", "y", "y"]}), t)


# -- generators -------------------------------------------------------------

# sha256 of a 40-row sample of each generator at seed 7. A change here means
# the workload inputs changed: bump gen.GENERATOR_VERSION and update the pins.
DIGESTS = {
    "webpages": "bbed7efbb8846ea1270f096e4dbb3725d16cc3e61cbfe51fa1883226912eb901",
    "lineitem": "9270afe465835dacad30be20489cf90ab6e7bc1ce928b5c7e3be7558a35fcd73",
    "nested": "a96cdc32f4c26a6e283eafd8c113457a776f8b2158386a3407ff943cc6df5cdb",
}


def _digest(table: pa.Table) -> str:
    return hashlib.sha256(repr(table.to_pydict()).encode()).hexdigest()


@pytest.mark.parametrize("kind", sorted(gen.GENERATORS))
def test_generator_digest_is_pinned(kind):
    assert gen.GENERATOR_VERSION == 1
    assert _digest(gen.GENERATORS[kind](40, 7)) == DIGESTS[kind]


def test_generators_are_seeded():
    for fn in gen.GENERATORS.values():
        assert fn(30, 1).equals(fn(30, 1))
        assert not fn(30, 1).equals(fn(30, 2))


def test_cache_key_covers_version_seed_and_size():
    assert gen.cache_key("webpages", 3, 100) == f"webpages-v{gen.GENERATOR_VERSION}-s3-n100"
    assert len({gen.cache_key("webpages", s, n) for s in (1, 2) for n in (10, 20)}) == 4


# -- tracer ---------------------------------------------------------------

def _function_attrs():
    return {(m.__name__, name): val for m in list(sys.modules.values())
            if getattr(m, "__name__", "").startswith("webcodec")
            for name, val in vars(m).items() if callable(val)}


def test_remove_restores_original_function_objects():
    from webcodec import filefmt
    from webcodec.spark.table import SnapshotTable

    for modname, _ in tracing.LAYERS.values():
        importlib.import_module(modname)
    before = _function_attrs()
    commit = SnapshotTable.__dict__["commit"]
    tr = tracing.Tracer()
    tr.install()
    assert filefmt.compress is not before[("webcodec.filefmt", "compress")]
    tr.remove()
    after = _function_attrs()
    assert after.keys() == before.keys()
    assert all(after[k] is before[k] for k in before)
    assert SnapshotTable.__dict__["commit"] is commit


def test_self_times_sum_to_root_wall():
    import io

    from webcodec import filefmt
    from webcodec.config import EncoderConfig

    t = gen.webpages(200, 3)
    tr = tracing.Tracer()
    tr.install()
    try:
        with tr.span("op.roundtrip"):
            buf = io.BytesIO()
            filefmt.write_table(t, buf, EncoderConfig.archive())
            back = filefmt.read_table(buf.getvalue(), predicate=("lang", "==", "en"))
    finally:
        tr.remove()
    assert back.num_rows > 0
    wall, root_self = tr.root_times()
    layers = sum(v for k, v in tr.self_times().items() if k != "op.roundtrip")
    assert layers + root_self == pytest.approx(wall, rel=1e-9, abs=1e-9)
    m = tr.layer_metrics()
    assert m["filefmt.compress_s"] > 0 and m["kernels.fsst.build_s"] > 0
    assert m["filefmt.pages_decoded"] > 0 and m["predicate.rows_in"] >= m["predicate.rows_out"] > 0
