"""One leaf writer for every parquet column chunk.

Flat columns and every Dremel leaf of a nested column go through the same
page loop: dictionary pages, ~1 MiB pages cut at top-level row boundaries,
page indexes, forced encodings, CRC and encryption. These tests pin what
nested leaves gained from that (dictionary pages, several data pages,
OffsetIndex rows, ``column_encoding``), the decimal256 value layout and
the ``column_encoding`` key check, against pyarrow, DuckDB and our own
native reader.
"""
import base64
import struct
from decimal import Decimal as D
from types import SimpleNamespace

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webcodec import parquet_interop as pi
from webcodec import parquet_writer
from webcodec.parquet_writer import write_parquet

KEY = bytes(range(16))
_FOOTER_KEY_MD = (
    b'{"keyMaterialType":"PKMT1","internalStorage":true,'
    b'"isFooterKey":true,"kmsInstanceID":"DEFAULT",'
    b'"kmsInstanceURL":"DEFAULT","masterKeyID":"fk","wrappedDEK":"'
    + base64.b64encode(KEY) + b'","doubleWrapping":false}')


def _unwrap(wrapped, _master_id):
    return base64.b64decode(wrapped)


def _page_headers(path, meta, encrypted):
    """PageHeader of every page in a chunk, in file order. Plaintext chunks
    walk the headers; encrypted ones count the length-prefixed
    header/payload module pairs and give only the page type (the
    dictionary page comes first)."""
    buf = memoryview(open(path, "rb").read())
    pos = meta.dictionary_page_offset or meta.data_page_offset
    end = pos + meta.total_compressed_size
    out = []
    while pos < end:
        if encrypted:
            for _ in range(2):
                pos += 4 + struct.unpack_from("<I", buf, pos)[0]
            out.append({1: 2 if not out and meta.dictionary_page_offset else 0})
        else:
            hdr, after = pi._read_struct(buf, pos)
            out.append(hdr)
            pos = after + hdr[3]
    return out


def _words_table(n=70_000):
    # 40,000 distinct short words: dictionary-encodable (ndv is far below
    # half the ~630k values) with 16-bit indices, so the index pages alone
    # pass 1 MiB; the raw strings are several MiB
    rng = np.random.default_rng(3)
    vocab = np.array([f"w{i:05d}" for i in range(40_000)], dtype=object)
    lens = rng.integers(0, 19, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    words[rng.random(len(words)) < 0.02] = None
    cuts = np.cumsum(lens)[:-1]
    rows = [list(w) for w in np.split(words, cuts)]
    for i in range(0, n, 97):
        rows[i] = None
    return pa.table({"id": pa.array(np.arange(n, dtype=np.int64)),
                     "l": pa.array(rows, pa.list_(pa.string()))})


@pytest.mark.parametrize("mode", ["v1", "v2", "v1_plain", "encrypted"])
def test_nested_leaf_gets_dictionary_and_page_cuts(tmp_path, mode):
    t = _words_table()
    p = str(tmp_path / f"{mode}.parquet")
    kw = {"v2": {"data_page_version": 2},
          "v1_plain": {"use_dictionary": False},
          "encrypted": {"encryption_key": KEY, "encryption_kms_wrap":
                        lambda dek, mid: base64.b64encode(dek),
                        "encryption_key_metadata": _FOOTER_KEY_MD}}.get(mode, {})
    write_parquet(t, p, **kw)
    encrypted = mode == "encrypted"
    ft = pi.read_footer_native(p, kms_unwrap=_unwrap if encrypted else None)
    (leaf,) = [m for m in ft["row_groups"][0] if m.path.startswith("l.")]
    headers = _page_headers(p, leaf, encrypted)
    types = [h[1] for h in headers]
    data_type = 3 if mode == "v2" else 0
    if mode == "v1_plain":
        assert leaf.dictionary_page_offset is None
        assert set(types) == {0}
    else:
        assert leaf.dictionary_page_offset is not None and types[0] == 2
        assert set(types[1:]) == {data_type}
    assert len([x for x in types if x != 2]) > 1

    if encrypted:
        import pyarrow.parquet.encryption as pe

        from tests.test_parquet_encrypted_interop import _Kms

        factory = pe.CryptoFactory(lambda config: _Kms(config))
        dprops = factory.file_decryption_properties(pe.KmsConnectionConfig())
        assert pq.ParquetFile(p, decryption_properties=dprops).read().equals(t)
        assert pi.read_table_arrow_native(p, kms_unwrap=_unwrap).equals(t)
        return
    buf = ft["buf"]
    firsts = [loc[2] for loc in pi._parse_offset_index(buf, leaf)]
    assert firsts[0] == 0 and firsts == sorted(set(firsts))
    assert firsts[-1] < t.num_rows
    if mode == "v2":  # DataPageHeaderV2.num_rows counts the page's rows
        assert [h[8][3] for h in headers[1:]] == np.diff(firsts + [t.num_rows]).tolist()
    assert pq.read_table(p).equals(t)
    assert pi.read_table_arrow_native(p).equals(t)
    got = duckdb.connect().execute(
        f"select id, l from read_parquet('{p}') order by id").arrow()
    assert got.column("l").to_pylist() == t.column("l").to_pylist()
    lo, hi = firsts[1] - 5, firsts[1] + 3_000
    want = t.slice(lo, hi - lo)
    sel = pi.read_table_arrow_native(p, filters=[("id", ">=", lo), ("id", "<", hi)])
    assert sel.equals(want)
    sel = pi.read_table_arrow_native(p, columns=["l"], filters=[("id", "==", hi)])
    assert sel.column("l").to_pylist() == [t.column("l")[hi].as_py()]


def test_nested_pages_hold_whole_rows(tmp_path):
    # read each data page of the list leaf alone: its levels must start a
    # row, and its rows must be exactly the OffsetIndex span
    t = _words_table(40_000)
    p = str(tmp_path / "rows.parquet")
    write_parquet(t, p, use_dictionary=False)
    ft = pi.read_footer_native(p)
    (leaf,) = [m for m in ft["row_groups"][0] if m.path.startswith("l.")]
    locs = pi._parse_offset_index(ft["buf"], leaf)
    assert len(locs) > 1
    ends = [loc[2] for loc in locs[1:]] + [t.num_rows]
    for (off, size, first), end in zip(locs, ends):
        page = SimpleNamespace(
            compression=leaf.compression, dictionary_page_offset=None,
            data_page_offset=off, total_compressed_size=size,
            num_values=leaf.num_values, crypto=None, path=leaf.path)
        _, rep, _ = pi._read_leaf_entries(ft["buf"], page, "BYTE_ARRAY", 1, 3)
        assert rep[0] == 0 and int((rep == 0).sum()) == end - first


@pytest.mark.parametrize("seed", range(8))
def test_random_nested_schemas_with_tiny_pages(tmp_path, monkeypatch, seed):
    # pages of a few rows put a cut inside nearly every list run: each
    # leaf's pages must still start at a top-level row in both readers
    import random

    from tests.test_parquet_writer import _rand_nested_type, _rand_nested_value

    monkeypatch.setattr(parquet_writer, "_TARGET_PAGE_BYTES", 64)
    py = random.Random(5000 + seed)
    rng = np.random.default_rng(5000 + seed)
    cols = {"id": pa.array(np.arange(300, dtype=np.int64))}
    for ci in range(py.randint(1, 3)):
        t = _rand_nested_type(py, py.randint(1, 3))
        t = t if pa.types.is_nested(t) else pa.list_(t)
        cols[f"c{ci}"] = pa.array([_rand_nested_value(py, rng, t) for _ in range(300)], t)
    t = pa.table(cols)
    p = str(tmp_path / "t.parquet")
    write_parquet(t, p, data_page_version=1 + seed % 2,
                  row_group_rows=[None, 128][seed // 2 % 2])
    assert pq.read_table(p).cast(t.schema).equals(t), seed
    assert pi.read_table_arrow_native(p).cast(t.schema).equals(t), seed
    ft = pi.read_footer_native(p)
    n_pages = []
    for rg, n in zip(ft["row_groups"], ft["rg_rows"]):
        for m in rg:
            firsts = [loc[2] for loc in pi._parse_offset_index(ft["buf"], m)]
            assert firsts[0] == 0 and firsts == sorted(set(firsts)) and firsts[-1] < n
            if m.path != "id":
                n_pages.append(len(firsts))
    assert max(n_pages) > 1  # a nested leaf was cut
    sel = pi.read_table_arrow_native(p, filters=[("id", ">=", 77), ("id", "<", 201)])
    assert sel.cast(t.schema).equals(t.slice(77, 124)), seed


def test_forced_encoding_applies_to_every_nested_leaf(tmp_path):
    t = pa.table({"l": pa.array([[1, 2, 3], None, [], [None, -5], list(range(40))],
                                pa.list_(pa.int64()))})
    p = str(tmp_path / "d.parquet")
    write_parquet(t, p, column_encoding={"l": "delta_binary_packed"})
    assert "DELTA_BINARY_PACKED" in pq.ParquetFile(p).metadata.row_group(0).column(0).encodings
    assert pq.read_table(p).equals(t)
    assert pi.read_table_arrow_native(p).equals(t)
    s = pa.table({"l": pa.array([["a"], None], pa.list_(pa.string()))})
    with pytest.raises(TypeError, match="delta_binary_packed"):
        write_parquet(s, str(tmp_path / "s.parquet"),
                      column_encoding={"l": "delta_binary_packed"})


@pytest.mark.parametrize("arr", [
    pa.array(["ab", "", "xyz", "é"]),
    pa.array(["ab", "", "xyz", "é", "q" * 300]).slice(1, 3),
    pa.array([b"\x00\xff", b"", b"abc"], pa.binary()).slice(1),
    pa.array([], pa.string()),
])
def test_plain_byte_array_matches_reference(arr):
    want = b"".join(struct.pack("<I", len(v)) + v
                    for v in arr.cast(pa.binary()).to_pylist())
    assert parquet_writer._plain_bytes(arr) == want


def test_unknown_column_encoding_key_raises_before_writing(tmp_path):
    t = pa.table({"a": pa.array([1, 2, 3])})
    p = tmp_path / "x.parquet"
    with pytest.raises(KeyError, match="nope"):
        write_parquet(t, str(p), column_encoding={"nope": "delta_binary_packed"})
    assert not p.exists()


@pytest.mark.parametrize("dt", [pa.decimal256(20, 2), pa.decimal256(50, 2)])
def test_decimal256_values_exact(tmp_path, dt):
    big = "9" * (dt.precision - 2) + ".99"
    vals = [D("1.25"), None, D("-3.50"), D(big), D("-" + big), D("-0.01")]
    t = pa.table({"d": pa.array(vals, dt),
                  "l": pa.array([vals, None, [], vals[::-1], [None], [D("-7")]],
                                pa.list_(dt))})
    p = str(tmp_path / "d.parquet")
    write_parquet(t, p)
    for got in (pq.read_table(p), pi.read_table_arrow_native(p)):
        assert got.column("d").to_pylist() == vals
        assert got.equals(t.cast(got.schema))
