"""Parquet split-block bloom filters (SURVEY §2 C8 across the interop
boundary; parquet-format BloomFilter.md). Write side:
``write_parquet(bloom_filter_columns=...)`` emits a spec SBBF per chunk —
XXH64 value hash (kernels/xxh.py, pinned to the published reference
vectors), the spec's multiply-shift block mapping and 8-salt mask schedule,
BloomFilterHeader thrift + uncompressed bitset between row-group data and
the page indexes, offset/length in ColumnMetaData fields 14/15. Read side:
the filter pushdown probes the bloom for ==/in conjuncts after the stats
tier, dropping row groups whose stats overlap but whose value set provably
misses — the tier stats alone cannot provide.

Reference differential BOTH directions via Spark's parquet-mr 1.16 (the
one in-sandbox implementation that writes AND reads spec blooms; DuckDB
1.0 / pyarrow 16 predate support and just ignore ours):
`test_parquet_java_written_blooms_probe_exactly` probes a parquet-java-
written bitset with OUR XXH64 + multiply-shift math (every present value
must hit — any hash/layout deviation fails immediately), and
`test_spark_reads_our_blooms_with_filters` has parquet-mr's bloom-level
row-group filtering read OUR bitsets (a layout bug would surface as lost
rows). Plus: XXH64 reference vectors + scalar/vector differential,
structural parse-back, FPP measurement, and no-false-negative sweeps."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webcodec import parquet_interop as pi
from webcodec.kernels import bloom
from webcodec.kernels.xxh import xxh64_scalar, xxh64_values
from webcodec.parquet_writer import write_parquet


def test_xxh64_reference_vectors():
    # published xxHash reference results, seed = 0
    assert xxh64_scalar(b"") == 0xEF46DB3751D8E999
    assert xxh64_scalar(b"a") == 0xD24EC4F1A98C6E5B
    assert xxh64_scalar(b"abc") == 0x44BC2CF5AD770999


def test_xxh64_tiny_inputs():
    """Total data < 8 bytes: the masked tail gathers must stay in bounds
    (regression — one 3-byte value used to IndexError)."""
    for vals in ([b"abc"], [b""], [b"a", b"bc"], [b"1234567"]):
        data = np.frombuffer(b"".join(vals), np.uint8)
        offs = np.zeros(len(vals) + 1, np.int64)
        offs[1:] = np.cumsum([len(v) for v in vals])
        got = xxh64_values(offs, data)
        assert [int(h) for h in got] == [xxh64_scalar(v) for v in vals]


@pytest.mark.parametrize("seed", range(4))
def test_xxh64_vectorized_matches_scalar(seed):
    rng = np.random.default_rng(seed)
    lens = list(rng.integers(0, 130, 300)) + [0, 1, 3, 4, 7, 8, 31, 32,
                                              33, 63, 64, 65, 1024]
    vals = [rng.integers(0, 256, int(n), dtype=np.uint8).tobytes()
            for n in lens]
    data = np.frombuffer(b"".join(vals), np.uint8)
    offs = np.zeros(len(vals) + 1, np.int64)
    offs[1:] = np.cumsum([len(v) for v in vals])
    got = xxh64_values(offs, data)
    ref = np.array([xxh64_scalar(v) for v in vals], dtype=np.uint64)
    assert (got == ref).all()


def test_xxh64_skewed_lengths_match_scalar():
    """5,000 short values and one 1 MiB value: the stripe loop touches
    only the lanes that still have a stripe, and every hash stays equal
    to the scalar reference."""
    rng = np.random.default_rng(7)
    vals = [rng.integers(0, 256, int(n), dtype=np.uint8).tobytes()
            for n in rng.integers(0, 100, 5_000)]
    vals.insert(1_234, rng.integers(0, 256, 1 << 20, dtype=np.uint8).tobytes())
    data = np.frombuffer(b"".join(vals), np.uint8)
    offs = np.zeros(len(vals) + 1, np.int64)
    offs[1:] = np.cumsum([len(v) for v in vals])
    got = xxh64_values(offs, data)
    assert [int(h) for h in got] == [xxh64_scalar(v) for v in vals]


def test_xxh64_scalar_handover_matches_scalar():
    """Long lanes of mixed stripe counts: the vectorized loop hands the last
    few lanes to the scalar rounds at different stripes, and every hash
    still equals the scalar reference."""
    rng = np.random.default_rng(11)
    for lens in ([40, 100, 1_000, 1_001, 5_000, 70_000, 3],
                 [33] * 7 + [64, 95, 96, 2_000],
                 [31, 32, 63, 64], [300] * 5):
        vals = [rng.integers(0, 256, n, dtype=np.uint8).tobytes() for n in lens]
        data = np.frombuffer(b"".join(vals), np.uint8)
        offs = np.zeros(len(vals) + 1, np.int64)
        offs[1:] = np.cumsum(lens)
        assert [int(h) for h in xxh64_values(offs, data)] == [xxh64_scalar(v) for v in vals]


def test_spec_bloom_no_false_negatives_and_fpp():
    rng = np.random.default_rng(1)
    vals = [f"k{int(v)}".encode() for v in rng.permutation(10_000)]
    data = np.frombuffer(b"".join(vals), np.uint8)
    offs = np.zeros(len(vals) + 1, np.int64)
    offs[1:] = np.cumsum([len(v) for v in vals])
    hs = xxh64_values(offs, data)
    nbytes = bloom.spec_num_bytes(len(vals), 0.01)
    bits = bloom.spec_build(hs, nbytes)
    assert len(bits) == nbytes and nbytes % 32 == 0
    # every inserted value answers yes
    for h in hs[:500]:
        assert bloom.spec_might_contain(bits, h)
    # absent values answer yes at ~fpp
    miss = [f"absent{i}".encode() for i in range(10_000)]
    fp = sum(bloom.spec_might_contain(bits, xxh64_scalar(m)) for m in miss)
    assert fp / len(miss) < 0.05


def _two_group_table(n=60_000):
    """Two row groups with OVERLAPPING stat ranges but DISJOINT value
    sets (evens then odds) — stats cannot separate them, blooms can."""
    ids = np.concatenate([np.arange(0, n, 2), np.arange(1, n, 2)])
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "url": pa.array([f"https://d{i % 977}.com/p{i}" for i in ids]),
    })


def test_bloom_written_file_still_readable_everywhere(tmp_path):
    import duckdb

    t = _two_group_table()
    p = str(tmp_path / "b.parquet")
    write_parquet(t, p, row_group_rows=t.num_rows // 2,
                  bloom_filter_columns={"id", "url"})
    assert pq.read_table(p).equals(t)
    assert duckdb.execute(
        f"select count(*) from '{p}'").fetchone()[0] == t.num_rows
    ours = pi.read_table_arrow_native(p)
    assert ours.equals(t)
    ft = pi.read_footer_native(p)
    for rg in ft["row_groups"]:
        for m in rg:
            assert m.bloom_offset is not None


def test_bloom_prunes_row_group_stats_cannot(tmp_path, monkeypatch):
    t = _two_group_table()
    n = t.num_rows
    p = str(tmp_path / "b.parquet")
    write_parquet(t, p, row_group_rows=n // 2,
                  bloom_filter_columns={"id", "url"})
    seen = []
    orig = pi._read_leaf_entries

    def counting(buf, meta, *a, **k):
        seen.append(meta.num_values)
        return orig(buf, meta, *a, **k)

    monkeypatch.setattr(pi, "_read_leaf_entries", counting)
    # an ODD id lies inside group 0's [0, n-2] stat range; only its bloom
    # proves absence, halving the decode
    got = pi.read_table_arrow_native(p, filters=[("id", "==", 33333)])
    assert got.num_rows == 1
    assert got.column("url")[0].as_py().endswith("/p33333")
    assert sum(seen) <= n  # one group's two chunks, not two groups'
    # a value in NO group decodes nothing at all
    seen.clear()
    got = pi.read_table_arrow_native(p, filters=[("url", "==", "https://nope/")])
    assert got.num_rows == 0 and sum(seen) == 0
    # in-list with one present value keeps exactly the groups that hold it
    seen.clear()
    got = pi.read_table_arrow_native(p, filters=[("id", "in", [2, 10**9])])
    assert got.column("id").to_pylist() == [2] and sum(seen) <= n


def test_bloom_numeric_and_binary_lanes(tmp_path):
    n = 4_000
    rng = np.random.default_rng(3)
    t = pa.table({
        "i32": pa.array(rng.integers(-2**31, 2**31, n, dtype=np.int64)
                        .astype(np.int32), pa.int32()),
        "u64": pa.array(rng.integers(0, 2**63, n, dtype=np.uint64) * 2,
                        pa.uint64()),
        "f64": pa.array(rng.normal(size=n)),
        "ts": pa.array((rng.integers(0, 2**40, n)).astype("datetime64[us]")),
        "fsb": pa.array([bytes([i % 251, (i * 7) % 251]) for i in range(n)],
                        pa.binary(2)),
    })
    p = str(tmp_path / "b.parquet")
    write_parquet(t, p, bloom_filter_columns=set(t.column_names))
    # present values hit, absent values prune the (single) group to zero
    probes = [("i32", t.column("i32")[5].as_py(), np.int32(7).item()),
              ("u64", t.column("u64")[6].as_py(), 3),
              ("f64", t.column("f64")[7].as_py(), 12345.6789),
              ("ts", t.column("ts")[8].as_py(), None),
              ("fsb", t.column("fsb")[9].as_py(), b"\xff\xfe")]
    for col, present, absent in probes:
        got = pi.read_table_arrow_native(p, [col], filters=[(col, "==", present)])
        assert got.num_rows >= 1, col
        if absent is not None:
            got = pi.read_table_arrow_native(p, [col],
                                      filters=[(col, "==", absent)])
            ref = t.filter(pa.compute.equal(t.column(col),
                                            pa.scalar(absent, t.column(col).type)))
            assert got.num_rows == ref.num_rows, col


def test_bloom_validation(tmp_path):
    t = pa.table({"b": pa.array([True, False]),
                  "s": pa.array([1, 2], pa.int64())})
    p = str(tmp_path / "x.parquet")
    with pytest.raises(TypeError, match="unsupported"):
        write_parquet(t, p, bloom_filter_columns={"b"})
    with pytest.raises(KeyError, match="not in table"):
        write_parquet(t, p, bloom_filter_columns={"nope"})
    with pytest.raises(ValueError, match="encrypted"):
        write_parquet(t, p, bloom_filter_columns={"s"},
                      encryption_key=bytes(16))


def test_malformed_bloom_header_is_conservative(tmp_path):
    """A corrupted bloom region must never change results — the probe
    returns maybe and stats/residual still govern."""
    t = _two_group_table(8_000)
    p = str(tmp_path / "b.parquet")
    write_parquet(t, p, row_group_rows=4_000, bloom_filter_columns={"id"})
    ft = pi.read_footer_native(p)
    off = ft["row_groups"][0][0].bloom_offset
    raw = bytearray(open(p, "rb").read())
    raw[off] ^= 0xFF  # smash the header's first thrift byte
    open(p, "wb").write(bytes(raw))
    got = pi.read_table_arrow_native(p, filters=[("id", "==", 1001)])
    assert got.column("id").to_pylist() == [1001]


def test_parquet_java_written_blooms_probe_exactly(tmp_path, spark):
    """REFERENCE DIFFERENTIAL (read side): Spark's parquet-java writer
    emits spec SBBFs; our XXH64 + multiply-shift block math must probe
    its bitsets exactly — 100% of present values hit (any deviation in
    hash, block mapping or mask schedule breaks this), absent values at
    ~fpp, and the e2e filtered read bloom-prunes the same file."""
    import struct as _struct

    import pyspark.sql.functions as F

    from webcodec.kernels.xxh import xxh64_scalar

    d = str(tmp_path / "sb")
    df = spark.range(20_000).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        (F.col("id") * 2).alias("ev"))
    (df.coalesce(1).write.mode("overwrite")
     .option("parquet.bloom.filter.enabled#url", "true")
     .option("parquet.bloom.filter.enabled#ev", "true")
     .option("parquet.bloom.filter.expected.ndv#url", "20000")
     .parquet(d))
    import glob

    f = glob.glob(d + "/*.parquet")[0]
    ft = pi.read_footer_native(f)
    buf = ft["buf"]

    def bitset(path):
        m = [m for rg in ft["row_groups"] for m in rg if m.path == path][0]
        assert m.bloom_offset is not None
        hdr, pos = pi._read_struct(buf, m.bloom_offset)
        assert hdr[2] == {1: {}} and hdr[3] == {1: {}} and hdr[4] == {1: {}}
        return bytes(buf[pos:pos + hdr[1]])

    b_url = bitset("url")
    present = [f"u{i}".encode() for i in range(0, 20_000, 7)]
    assert all(bloom.spec_might_contain(b_url, xxh64_scalar(v))
               for v in present)
    absent = [f"nope{i}".encode() for i in range(4_000)]
    fp = sum(bloom.spec_might_contain(b_url, xxh64_scalar(v))
             for v in absent)
    assert fp / len(absent) < 0.05
    b_ev = bitset("ev")
    assert all(bloom.spec_might_contain(b_ev, xxh64_scalar(
        _struct.pack("<q", v))) for v in range(0, 40_000, 14))
    # odd values were never written; parquet-java's bitset must miss them
    miss = sum(bloom.spec_might_contain(b_ev, xxh64_scalar(
        _struct.pack("<q", v))) for v in range(1, 40_000, 14))
    assert miss / (40_000 // 14) < 0.05
    # e2e: our filtered reader over the parquet-java file
    got = pi.read_table_arrow_native(f, filters=[("url", "==", "u12345")])
    assert got.to_pylist() == [{"url": "u12345", "ev": 24690}]
    assert pi.read_table_arrow_native(
        f, filters=[("ev", "==", 39_999)]).num_rows == 0


def test_spark_reads_our_blooms_with_filters(tmp_path, spark):
    """REFERENCE DIFFERENTIAL (write side): parquet-mr's bloom-level
    row-group filtering reads OUR bitsets — a layout/hash bug would make
    Spark silently DROP matching rows (bloom false negative), so exact
    counts on present values are the strong check."""
    t = _two_group_table(30_000)
    p = str(tmp_path / "ours.parquet")
    write_parquet(t, p, row_group_rows=t.num_rows // 2,
                  bloom_filter_columns={"id", "url"})
    df = spark.read.parquet(p)
    present_url = f"https://d{12345 % 977}.com/p12345"
    assert df.filter(df["url"] == present_url).count() == 1
    assert df.filter(df["id"] == 13_333).count() == 1
    assert df.filter(df["id"] == 29_998).count() == 1
    assert df.filter(df["url"] == "https://zz/").count() == 0


def test_export_parquet_bloom_passthrough(tmp_path, spark):
    import glob

    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import export_parquet

    t = pa.table({"id": pa.array(range(5_000), pa.int64()),
                  "u": pa.array([f"u{i}" for i in range(5_000)])})
    src = str(tmp_path / "src.parquet")
    pq.write_table(t, src)
    d = tmp_path / "tbl"
    encode_table(spark.read.parquet(src), str(d), sort_key="id",
                 write_metrics=False)
    res = export_parquet(spark, str(d), str(tmp_path / "pq"),
                         bloom_filter_columns={"u"})
    assert res["rows"] == 5_000
    f = sorted(glob.glob(str(tmp_path / "pq" / "*.parquet")))[0]
    ft = pi.read_footer_native(f)
    blooms = [m.bloom_offset for rg in ft["row_groups"] for m in rg
              if m.path == "u"]
    assert blooms and all(b is not None for b in blooms)
    got = pi.read_table_arrow_native(f, filters=[("u", "==", "u4321")])
    assert got.column("id").to_pylist() == [4321]


def test_bloom_signed_zero_equality(tmp_path):
    """-0.0 and +0.0 are IEEE-equal: a chunk holding only -0.0 must NOT
    be bloom-pruned for == 0.0 (and vice versa) — the probe hashes both
    zero bit patterns (review fix)."""
    t = pa.table({"x": pa.array([-0.0, -0.0, -0.0], pa.float64()),
                  "y": pa.array([0.0, 0.0, 0.0], pa.float32())})
    p = str(tmp_path / "z.parquet")
    write_parquet(t, p, bloom_filter_columns={"x", "y"})
    assert pi.read_table_arrow_native(p, filters=[("x", "==", 0.0)]).num_rows == 3
    assert pi.read_table_arrow_native(p, filters=[("x", "==", -0.0)]).num_rows == 3
    assert pi.read_table_arrow_native(p, filters=[("y", "==", -0.0)]).num_rows == 3


def test_spec_num_bytes_matches_parquet_java_formula():
    """parquet-java's k=8 split-block sizing (-8n/ln(1-p^(1/8))), not the
    classic bloom formula: at fpp=0.01 that is ~9.68 bits/value, and the
    Spark-written 20k-ndv filter earlier in this file is 32768 bytes —
    our sizing must agree."""
    assert bloom.spec_num_bytes(20_000, 0.01) == 32_768
    # boundary case the classic formula under-sizes: 9.57n bits fits
    # 2^18 while parquet-java's 9.68n does not
    n_boundary = 27_000
    bits_pj = -8.0 * n_boundary / np.log(1.0 - 0.01 ** 0.125)
    want = 32
    while want * 8 < bits_pj:
        want *= 2
    assert bloom.spec_num_bytes(n_boundary, 0.01) == want


@pytest.mark.parametrize("seed", range(4))
def test_bloom_fuzz_no_lost_rows(tmp_path, seed):
    """Randomized layouts/types: equality probes on PRESENT values must
    never lose rows through the bloom tier (false negatives are the
    correctness failure mode; false positives only cost decode)."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(500, 4_000))
    kind = ("int64", "int32", "string", "float64", "binary")[seed % 5]
    if kind == "int64":
        vals = rng.integers(-10**12, 10**12, n)
        arr = pa.array(vals, pa.int64())
    elif kind == "int32":
        arr = pa.array(rng.integers(-2**31, 2**31, n).astype(np.int32),
                       pa.int32())
    elif kind == "string":
        arr = pa.array([f"s{int(v)}" for v in rng.integers(0, 10**9, n)])
    elif kind == "float64":
        arr = pa.array(rng.normal(size=n)
                       * 10.0 ** float(rng.integers(-3, 6)))
    else:
        arr = pa.array([rng.integers(0, 256, int(k), dtype=np.uint8)
                        .tobytes() for k in rng.integers(0, 24, n)],
                       pa.binary())
    mask = rng.random(n) < 0.07
    arr = pa.array([None if m else v.as_py()
                    for m, v in zip(mask, arr)], arr.type)
    t = pa.table({"v": arr, "k": pa.array(range(n), pa.int64())})
    p = str(tmp_path / "t.parquet")
    write_parquet(t, p, row_group_rows=max(n // 3, 1),
                  bloom_filter_columns={"v"},
                  bloom_filter_fpp=float(rng.choice([0.3, 0.01, 0.001])))
    import pyarrow.compute as pc

    present = [v for v in arr.drop_null().to_pylist()[:40]]
    for v in present:
        got = pi.read_table_arrow_native(p, filters=[("v", "==", v)])
        ref = t.filter(pc.equal(t.column("v"), pa.scalar(v, arr.type)))
        assert got.num_rows == ref.num_rows, (kind, v)
