"""Selection on demand: the lazy ``SampleStats`` computes only the statistics
``selector.choose`` reads, and every choice equals the one made over the
eagerly computed statistics (a frozen copy of the eager ``sample_stats``
lives below as the differential reference)."""

from __future__ import annotations

import io
import math
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from webcodec import filefmt, selector, stats
from webcodec.config import EncoderConfig
from webcodec.fixtures import webpages
from webcodec.stats import _approx_prefix_lengths, _entropy_bits, sample_stats
from webcodec.types import IS_VARLEN, NUMPY_OF, PhysType, phys_type_of


def _eager_sample_stats(arr: pa.Array, phys: PhysType, sample_n: int = 4096):
    """The eager selector statistics, frozen: all seven fields, always."""
    def out(n, ndv_ratio, mrl, entropy, avg_len, prefix_ratio, sortedness):
        return SimpleNamespace(
            n=n, ndv_ratio=ndv_ratio, mean_run_length=mrl, byte_entropy=entropy,
            avg_len=avg_len, prefix_ratio=prefix_ratio, sortedness=sortedness,
            ndv_below=lambda t: ndv_ratio < t)

    s = arr.drop_null().slice(0, sample_n)
    n = len(s)
    if n == 0:
        return out(0, 1.0, 1.0, 8.0, 0.0, 0.0, 0.0)
    if phys == PhysType.LIST_FLOAT32:
        return out(n, 1.0, 1.0, 8.0, 0.0, 0.0, 0.0)
    ndv = pc.count_distinct(s).as_py()
    total_nonnull = len(arr) - arr.null_count
    ndv_ratio = ndv / n
    if total_nonnull <= n:
        ndv_ratio = ndv / max(total_nonnull, 1)
    elif 0.02 < ndv_ratio < 0.9 and s.nbytes <= n * 256:
        counts = pc.value_counts(s).field("counts").to_numpy(zero_copy_only=False)
        f1 = int((counts == 1).sum())
        f2 = int((counts == 2).sum())
        ndv_est = ndv + f1 * (f1 - 1) / (2.0 * (f2 + 1))
        ndv_ratio = min(1.0, ndv_est / total_nonnull)

    if phys in IS_VARLEN:
        s2 = s.cast(pa.large_binary()) if not pa.types.is_large_binary(s.type) else s
        if isinstance(s2, pa.ChunkedArray):
            s2 = s2.combine_chunks()
        buffers = s2.buffers()
        offsets = np.frombuffer(
            buffers[1], dtype=np.int64, count=s2.offset + n + 1
        )[s2.offset:]
        base = int(offsets[0])
        data = np.frombuffer(
            buffers[2] or b"", dtype=np.uint8, count=int(offsets[-1])
        )[base:]
        offsets = offsets - base
        lens = np.diff(offsets)
        avg_len = float(lens.mean()) if n else 0.0
        entropy = _entropy_bits(data[: 1 << 16])
        p = _approx_prefix_lengths(offsets, data)
        denom = min(avg_len, 64.0)
        prefix_ratio = float(p[1:].mean() / denom) if n > 1 and denom > 0 else 0.0
        eq = pc.equal(s.slice(0, n - 1), s.slice(1)).to_numpy(zero_copy_only=False) if n > 1 else np.array([])
        runs = 1 + int((~eq.astype(bool)).sum()) if n > 1 else 1
        mrl = n / runs
        sortedness = 0.0
        if n > 1:
            le = pc.less_equal(s.slice(0, n - 1), s.slice(1)).to_numpy(zero_copy_only=False)
            sortedness = float(np.nanmean(le.astype(np.float64)))
        return out(n, ndv_ratio, mrl, entropy, avg_len, prefix_ratio, sortedness)

    if phys == PhysType.BOOL:
        v = s.to_numpy(zero_copy_only=False).astype(np.uint8)
    else:
        v = s.to_numpy(zero_copy_only=False).view(NUMPY_OF[phys])
    from webcodec.kernels.rle import mean_run_length

    mrl = mean_run_length(v)
    raw = np.ascontiguousarray(v).view(np.uint8)
    entropy = _entropy_bits(raw[: 1 << 16])
    sortedness = float((v[1:] >= v[:-1]).mean()) if n > 1 else 1.0
    return out(n, ndv_ratio, mrl, entropy, float(v.dtype.itemsize), 0.0, sortedness)


_TYPES = [pa.bool_(), pa.int32(), pa.int64(), pa.timestamp("us"), pa.date32(),
          pa.float32(), pa.float64(), pa.string(), pa.large_string(), pa.binary(),
          pa.list_(pa.float32())]
# distinct fraction of the rows: under 5 %, 5-10 %, the Chao1 middle band, ~100 %
_NDV_ZONES = [(0.001, 0.05), (0.05, 0.10), (0.10, 0.9), (0.97, 1.0)]


def _fuzz_column(rng: np.random.Generator) -> tuple[pa.Array, int]:
    """A seeded flat column (with nulls, sorted or not, any NDV zone, values
    on both sides of 256 B) and the sample size to select it with."""
    t = _TYPES[int(rng.integers(len(_TYPES)))]
    sample_n = int(rng.choice([16, 100, 512, 4096]))
    rows = int(sample_n * rng.choice([0.5, 1.0, 1.5, 4.0])) + int(rng.integers(0, 40))
    lo, hi = _NDV_ZONES[int(rng.integers(len(_NDV_ZONES)))]
    ndv = max(1, int(rows * rng.uniform(lo, hi)))
    codes = rng.integers(0, ndv, rows)
    if rng.random() < 0.4:
        codes.sort()
    if pa.types.is_boolean(t):
        pool = pa.array(np.arange(ndv) % 2 == 1)
    elif pa.types.is_integer(t) or pa.types.is_timestamp(t) or pa.types.is_date(t):
        base = 1_600_000_000_000_000 if pa.types.is_timestamp(t) else int(rng.integers(-1000, 1000))
        step = int(rng.choice([1, 7, 1000]))
        ints = base + np.arange(ndv, dtype=np.int64) * step
        pool = pa.array(ints.astype(np.int32) if t.bit_width == 32 else ints).cast(t)
    elif pa.types.is_floating(t):
        vals = (np.arange(ndv) * 0.01 + rng.uniform(-5, 5)) if rng.random() < 0.5 \
            else np.sort(rng.normal(size=ndv))
        if rng.random() < 0.1:
            vals[int(rng.integers(ndv))] = np.nan
        pool = pa.array(vals).cast(t)
    elif pa.types.is_list(t):
        pool = pa.array([rng.normal(size=int(rng.integers(0, 4))).astype(np.float32)
                         for _ in range(ndv)], t)
    else:
        wide = rng.random() < 0.5  # both sides of the 256 B/value Chao1 gate
        width = int(rng.integers(260, 600)) if wide else int(rng.integers(0, 40))
        n_lens = int(rng.choice([1, 3, 40, 1000]))  # distinct-length classes
        prefix = "https://example.org/path/" if rng.random() < 0.5 else ""
        fill = "abcdefghij" * 170
        vals = [f"{prefix}{i:07d}{fill[: width + i % n_lens]}" for i in range(ndv)]
        pool = pa.array(vals, t) if pa.types.is_unicode(t) or pa.types.is_large_unicode(t) \
            else pa.array([v.encode() for v in vals], t)
    arr = pool.take(pa.array(codes))
    if rng.random() < 0.6:
        p_null = float(rng.choice([0.0, 0.05, 0.3, 0.9, 1.0]))
        arr = pc.if_else(pa.array(rng.random(rows) < p_null), pa.nulls(rows, t), arr)
    return arr, sample_n


def _same(a, b) -> bool:
    return a == b or (isinstance(a, float) and math.isnan(a) and math.isnan(b))


@pytest.mark.parametrize("seed", range(24))
def test_lazy_selection_matches_eager(tmp_path, seed):
    """Fuzz family: the lazy choice equals the eager one for both profiles
    with dictionaries on and off, and every statistic the lazy object
    computed equals its eager value (the length bound never exceeds the
    eager ndv ratio)."""
    rng = np.random.default_rng([seed, 31])
    for _ in range(4):
        arr, sample_n = _fuzz_column(rng)
        phys = phys_type_of(arr.type)
        eager = _eager_sample_stats(arr, phys, sample_n)
        for profile in (EncoderConfig.speed, EncoderConfig.archive):
            for use_dict in (True, False):
                config = profile(use_dictionary=use_dict)
                lazy = sample_stats(arr, phys, sample_n)
                want = selector.choose("c", phys, eager, config)
                assert selector.choose("c", phys, lazy, config) == want, (arr.type, sample_n)
                assert set(lazy.read) <= set(lazy.computed)
                for k, v in lazy.computed.items():
                    if k == "ndv_ratio_ge":
                        assert v <= eager.ndv_ratio, (arr.type, v, eager.ndv_ratio)
                    else:
                        assert _same(v, getattr(eager, k)), (k, v, getattr(eager, k))


def test_sample_skips_full_column_copy():
    """The sample is the first non-null values, read from a prefix."""
    rng = np.random.default_rng(3)
    vals = rng.integers(0, 1 << 40, 200_000)
    arr = pa.array(vals, mask=rng.random(200_000) < 0.3)
    got = stats._sample(arr, 4096)
    assert got.equals(arr.drop_null().slice(0, 4096))
    for tail in (arr.slice(150_000), arr.slice(199_000)):  # offset; too few values
        assert stats._sample(tail, 4096).equals(tail.drop_null().slice(0, 4096))


def test_override_computes_no_statistic(monkeypatch):
    calls = {"count_distinct": 0, "prefix": 0}
    count_distinct, prefix = pc.count_distinct, stats._approx_prefix_lengths

    def counting_distinct(*a, **k):
        calls["count_distinct"] += 1
        return count_distinct(*a, **k)

    def counting_prefix(*a, **k):
        calls["prefix"] += 1
        return prefix(*a, **k)

    monkeypatch.setattr(pc, "count_distinct", counting_distinct)
    monkeypatch.setattr(stats, "_approx_prefix_lengths", counting_prefix)
    t = webpages(3_000).sort_by("url")
    forced = {"url": "delta_byte_array", "warc_ts": "plain", "html": "delta_length",
              "text": "plain", "lang": "dict"}
    footer = filefmt.write_table(t, io.BytesIO(), EncoderConfig(column_encoding=forced))
    assert calls == {"count_distinct": 0, "prefix": 0}
    assert all("select" not in c for c in footer["chunks"])

    s = sample_stats(t.column("url").chunk(0), PhysType.STRING)
    selector.choose("url", PhysType.STRING, s, EncoderConfig(column_encoding=forced))
    assert s.read == {} and set(s.computed) == {"n"}

    # the counters see the auto path: sorted urls read the prefix ratio
    filefmt.write_table(t, io.BytesIO(), EncoderConfig())
    assert calls["count_distinct"] > 0 and calls["prefix"] > 0


def test_chunk_meta_records_the_statistics_read():
    t = webpages(6_000)
    sel = {}
    for name, config in (("speed", EncoderConfig.speed()), ("archive", EncoderConfig.archive())):
        footer = filefmt.write_table(t, io.BytesIO(), config)
        sel[name] = {c["name"]: c.get("select") for c in footer["chunks"]}
    html = sel["speed"]["html"]
    assert list(html) == ["n", "ndv_ratio_ge", "sortedness"]
    assert html["n"] == 4096 and 0.10 <= html["ndv_ratio_ge"] <= 1.0
    text = sel["archive"]["text"]
    assert list(text) == ["n", "ndv_ratio_ge", "sortedness", "avg_len", "byte_entropy"]
    assert text["avg_len"] > 256 and text["byte_entropy"] < 6.0
    # dictionary candidates record the exact ratio; fixed-width ints no prefix
    assert set(sel["speed"]["lang"]) == {"n", "ndv_ratio"}
    assert set(sel["speed"]["warc_ts"]) == {"n", "ndv_ratio"}


def test_length_bound_answers_wide_values_without_hashing(monkeypatch):
    calls = []
    count_distinct = pc.count_distinct
    monkeypatch.setattr(pc, "count_distinct", lambda *a, **k: calls.append(1) or count_distinct(*a, **k))
    wide = pa.array([f"{i:05d}" + "x" * (300 + i % 500) for i in range(5_000)])
    s = sample_stats(wide, PhysType.STRING)
    assert not s.ndv_below(0.10) and calls == []
    assert s.read == {"ndv_ratio_ge": 500 / 4096}
    # one length class: the bound cannot settle it, the exact count runs
    same_len = pa.array([f"{i % 3:05d}" + "x" * 300 for i in range(5_000)])
    s = sample_stats(same_len, PhysType.STRING)
    assert s.ndv_below(0.10) and calls == [1]
    assert set(s.read) == {"ndv_ratio_ge", "ndv_ratio"}
