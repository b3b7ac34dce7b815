"""Late materialization in ``filefmt.read_table``: the predicate columns
decode first, the exact filter runs on them alone, and the other projected
columns then read only the pages that hold a matching row.

Every read here is checked against ``pyarrow.compute`` on the source table;
the page-count tests wrap ``filefmt._read_page`` to see which pages a read
opens.
"""

from __future__ import annotations

import io

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from webcodec import filefmt
from webcodec.config import EncoderConfig
from webcodec.fixtures import webpages

KEY = bytes(range(32))
_CMP = {"==": pc.equal, "<": pc.less, "<=": pc.less_equal,
        ">": pc.greater, ">=": pc.greater_equal}


def _term(arr, op, value):
    if op == "isnull":
        return pc.is_null(arr)
    if op == "notnull":
        return pc.is_valid(arr)
    if op == "in":
        return pc.is_in(arr, value_set=pa.array(value, arr.type))
    if op == "startswith":
        return pc.starts_with(arr, value)
    if op == "contains":
        return pc.match_substring(arr, value)
    if op == "endswith":
        return pc.ends_with(arr, value)
    return _CMP[op](arr, pa.scalar(value, arr.type))


def _mask(t: pa.Table, conjuncts, keep=None) -> np.ndarray:
    m = np.ones(t.num_rows, dtype=bool) if keep is None else keep.copy()
    for col, op, value in conjuncts:
        m &= pc.fill_null(_term(t[col], op, value), False).to_numpy(zero_copy_only=False)
    return m


def _expected(t: pa.Table, conjuncts, columns, keep=None) -> pa.Table:
    return t.filter(pa.array(_mask(t, conjuncts, keep))).select(columns)


def _write(t: pa.Table, **kw) -> bytes:
    buf = io.BytesIO()
    filefmt.write_table(t, buf, EncoderConfig(**kw))
    return buf.getvalue()


@pytest.fixture(scope="module")
def pages():
    """webpages with 1 url, 1 warc_ts, 1 lang (+dict) and 8 text pages."""
    t = webpages(2_000)
    data = _write(t, data_page_size=128 << 10)
    return t, data, filefmt.read_footer(data)


@pytest.fixture
def reads(monkeypatch):
    """Offsets of every page ``_read_page`` opens."""
    seen: list[int] = []
    orig = filefmt._read_page

    def counting(buf, offset, *a, **kw):
        seen.append(offset)
        return orig(buf, offset, *a, **kw)

    monkeypatch.setattr(filefmt, "_read_page", counting)
    return seen


def _chunk(footer, name):
    return next(c for c in footer["chunks"] if c["name"] == name)


def _pages_holding(chunk, rows) -> int:
    return sum(1 for pm in chunk["pages"] if any(
        pm["first_row"] <= r < pm["first_row"] + pm["n_values"] for r in rows))


def test_url_equality_reads_one_text_page(pages, reads):
    t, data, footer = pages
    text = _chunk(footer, "text")
    assert len(_chunk(footer, "url")["pages"]) == 1 and len(text["pages"]) == 8
    row = 1_234
    pred = [("url", "==", t["url"][row].as_py())]
    got = filefmt.read_table(data, columns=["text"], predicate=pred)
    assert got.equals(_expected(t, pred, ["text"]))
    # the url page, then only the text page holding the row
    assert len(reads) == 2
    assert _pages_holding(text, [row]) == 1


def test_warc_ts_range_reads_one_text_page(pages, reads):
    t, data, footer = pages
    text = _chunk(footer, "text")
    pm = text["pages"][3]
    lo_row = pm["first_row"] + 10
    ts = t["warc_ts"]
    pred = [("warc_ts", ">=", ts[lo_row].as_py()), ("warc_ts", "<", ts[lo_row + 5].as_py())]
    got = filefmt.read_table(data, columns=["text"], predicate=pred)
    assert got.equals(_expected(t, pred, ["text"]))
    assert got.num_rows >= 5
    assert len(reads) == 2
    assert reads[1] == pm["offset"]


def test_dictionary_page_decoded_once(pages, reads):
    """The dictionary tier and the data pages share one dictionary decode."""
    t, data, footer = pages
    lang = _chunk(footer, "lang")
    pred = [("lang", "==", "ru")]
    got = filefmt.read_table(data, columns=["lang", "url"], predicate=pred)
    assert got.equals(_expected(t, pred, ["lang", "url"]))
    assert got.num_rows > 0
    assert reads.count(lang["dict"]["offset"]) == 1
    assert len(reads) == 1 + len(lang["pages"]) + 1  # dict, lang data, url


@pytest.mark.parametrize("columns", [["url", "text"], ["text"], ["warc_ts", "lang"]])
def test_projected_or_not(pages, columns):
    t, data, _ = pages
    ts = t["warc_ts"]
    pred = [("warc_ts", ">=", ts[300].as_py()), ("lang", "in", ["en", "de"]),
            ("url", "startswith", "https://")]
    got = filefmt.read_table(data, columns=columns, predicate=pred)
    assert got.equals(_expected(t, pred, columns))


def test_first_column_empties_mask(pages, reads):
    """warc_ts is the cheaper chunk, so it decodes first whatever the term
    order; a timestamp between two rows empties the mask inside the page
    stats, and no text page is ever read."""
    t, data, footer = pages
    text = _chunk(footer, "text")
    assert _chunk(footer, "warc_ts")["compressed_bytes"] < text["compressed_bytes"]
    between = t["warc_ts"][1_000].value + 1
    assert between < t["warc_ts"][1_001].value
    pred = [("text", "contains", "a"), ("warc_ts", "==", between)]
    got = filefmt.read_table(data, columns=["url", "html"], predicate=pred)
    assert got.num_rows == 0
    assert got.schema.names == ["url", "html"]
    assert got.schema.field("html").type == pa.binary()
    assert not set(reads) & {pm["offset"] for pm in text["pages"]}
    assert len(reads) == 1  # the warc_ts page alone


def test_late_tier_only_when_a_page_can_be_skipped(pages, monkeypatch):
    """When every other projected column keeps one page, the late tier has
    nothing to skip: the read decodes once and filters once, as before."""
    t, data, _ = pages
    calls = []
    orig = filefmt._late_tier
    monkeypatch.setattr(filefmt, "_late_tier", lambda *a: calls.append(1) or orig(*a))
    pred = [("url", "==", t["url"][77].as_py())]
    for columns, late in ((["lang", "warc_ts"], 0), (["lang", "text"], 1)):
        got = filefmt.read_table(data, columns=columns, predicate=pred)
        assert got.equals(_expected(t, pred, columns))
        assert len(calls) == late


def test_all_miss_returns_projected_schema(pages):
    t, data, _ = pages
    got = filefmt.read_table(data, columns=["text", "lang"],
                             predicate=[("lang", "==", "en"), ("url", "==", "nowhere")])
    assert got.num_rows == 0
    assert got.schema == t.select(["text", "lang"]).schema


def test_with_row_range_and_drop_rows(pages):
    t, data, _ = pages
    rng = np.random.default_rng(3)
    drop = np.sort(rng.choice(t.num_rows, 400, replace=False))
    keep = np.zeros(t.num_rows, dtype=bool)
    keep[250:1_700] = True
    keep[drop] = False
    pred = [("lang", "in", ["en", "fr"])]
    got = filefmt.read_table(data, columns=["url", "text"], predicate=pred,
                             row_range=(250, 1_700), drop_rows=drop)
    assert got.equals(_expected(t, pred, ["url", "text"], keep))


def test_several_row_groups():
    t = webpages(3_000, seed=5)
    buf = io.BytesIO()
    filefmt.write_batches(t.to_batches(max_chunksize=700), buf,
                          EncoderConfig(page_row_count_limit=256),
                          group_target_bytes=400_000)
    data = buf.getvalue()
    assert len(filefmt.read_footer(data)["groups"]) > 2
    ts = t["warc_ts"]
    for pred in ([("warc_ts", ">=", ts[500].as_py()), ("warc_ts", "<", ts[2_600].as_py()),
                  ("lang", "==", "de")],
                 [("url", "==", t["url"][2_999].as_py())],
                 [("lang", "in", ["ru", "zh"])]):
        got = filefmt.read_table(data, columns=["text", "warc_ts"], predicate=pred)
        assert got.equals(_expected(t, pred, ["text", "warc_ts"]))
        assert filefmt.match_positions(data, pred).tolist() == np.flatnonzero(
            _mask(t, pred)).tolist()


def test_nulls_in_predicate_column():
    t = webpages(2_000, seed=9, null_frac=0.2)
    data = _write(t, page_row_count_limit=256)
    for pred in ([("lang", "==", "en")], [("url", "isnull", None)],
                 [("url", "notnull", None), ("lang", ">=", "en")],
                 [("text", "contains", "e"), ("lang", "isnull", None)]):
        got = filefmt.read_table(data, columns=["url", "html"], predicate=pred)
        assert got.equals(_expected(t, pred, ["url", "html"]))


def _with_tags(n: int) -> pa.Table:
    rng = np.random.default_rng(11)
    t = webpages(n, seed=11)
    tags = [None if rng.random() < 0.1 else
            [f"t{int(v)}" for v in rng.integers(0, 40, int(rng.integers(0, 4)))]
            for _ in range(n)]
    return t.append_column("tags", pa.array(tags, pa.list_(pa.string())))


def test_list_column_under_flat_predicate(reads):
    t = _with_tags(2_000)
    data = _write(t, page_row_count_limit=256)
    ts = t["warc_ts"]
    pred = [("warc_ts", ">=", ts[700].as_py()), ("warc_ts", "<", ts[760].as_py())]
    got = filefmt.read_table(data, columns=["tags", "url"], predicate=pred)
    assert got.equals(_expected(t, pred, ["tags", "url"]))
    pred = [("url", "==", t["url"][1_500].as_py())]
    del reads[:]
    got = filefmt.read_table(data, columns=["tags"], predicate=pred)
    assert got.equals(_expected(t, pred, ["tags"]))
    leaf = next(c for c in filefmt.read_footer(data)["chunks"]
                if c["name"].startswith("tags\x1f"))
    assert len(leaf["pages"]) == 8
    assert len(set(reads) & {pm["offset"] for pm in leaf["pages"]}) == 1


def test_isnull_on_nested_column():
    t = _with_tags(1_500)
    data = _write(t, page_row_count_limit=256)
    for pred in ([("tags", "isnull", None)], [("tags", "notnull", None), ("lang", "==", "en")]):
        got = filefmt.read_table(data, columns=["url", "tags"], predicate=pred)
        assert got.equals(_expected(t, pred, ["url", "tags"]))
        got = filefmt.read_table(data, columns=["lang"], predicate=pred)
        assert got.equals(_expected(t, pred, ["lang"]))
    with pytest.raises(ValueError, match="nested/decimal"):
        filefmt.read_table(data, predicate=[("tags", "==", "t1")])


def test_encrypted_file():
    t = webpages(1_500, seed=4)
    data = _write(t, page_row_count_limit=256, encryption_key=KEY)
    ts = t["warc_ts"]
    pred = [("lang", "==", "fr"), ("warc_ts", "<", ts[900].as_py())]
    got = filefmt.read_table(data, columns=["text", "lang"], predicate=pred,
                             encryption_key=KEY)
    assert got.equals(_expected(t, pred, ["text", "lang"]))
    assert filefmt.match_positions(data, pred, encryption_key=KEY).tolist() == (
        np.flatnonzero(_mask(t, pred)).tolist())


def test_match_positions_differential(tmp_path):
    """match_positions returns the late tier's global positions: exact on a
    multi-group file under page pruning, through a rename, and for a column
    added after the file."""
    t = webpages(2_500, seed=21).rename_columns(["old_url", "warc_ts", "html", "text", "lang"])
    p = str(tmp_path / "t.wcd")
    filefmt.write_batches(t.to_batches(max_chunksize=600), p,
                          EncoderConfig(page_row_count_limit=256),
                          group_target_bytes=300_000)
    assert len(filefmt.read_footer_path(p)["groups"]) > 2
    ts = t["warc_ts"]
    aliases = {"url": ["old_url"]}
    cases = [
        ([("warc_ts", ">=", ts[1_100].as_py()), ("warc_ts", "<", ts[1_400].as_py())],
         [("warc_ts", ">=", ts[1_100].as_py()), ("warc_ts", "<", ts[1_400].as_py())]),
        ([("url", "startswith", "https://a"), ("lang", "in", ["en", "zh"])],
         [("old_url", "startswith", "https://a"), ("lang", "in", ["en", "zh"])]),
        ([("url", "==", t["old_url"][2_222].as_py())],
         [("old_url", "==", t["old_url"][2_222].as_py())]),
    ]
    for pred, local in cases:
        want = np.flatnonzero(_mask(t, local))
        got = filefmt.match_positions(p, pred, aliases=aliases)
        assert got.dtype == np.int64
        assert got.tolist() == want.tolist()
    # a column added after the file reads as all-null
    lang_en = np.flatnonzero(_mask(t, [("lang", "==", "en")]))
    assert filefmt.match_positions(p, [("added", "isnull", None)]).tolist() == list(
        range(t.num_rows))
    assert filefmt.match_positions(
        p, [("added", "isnull", None), ("lang", "==", "en")]).tolist() == lang_en.tolist()
    assert len(filefmt.match_positions(p, [("added", "==", 1), ("lang", "==", "en")])) == 0


def _fuzz_table(rng, n: int) -> pa.Table:
    def nulls(values, frac):
        return [None if rng.random() < frac else v for v in values]

    a = rng.integers(-500, 500, n)
    if rng.random() < 0.5:
        a = np.sort(a)  # sorted: page stats prune ranges
    words = ["en", "de", "fr", "ru", "zz-rare"]
    return pa.table({
        "a": pa.array(nulls(a.tolist(), rng.uniform(0, 0.3)), pa.int64()),
        "b": pa.array(nulls([words[i] for i in rng.choice(5, n, p=[.5, .2, .2, .09, .01])],
                            rng.uniform(0, 0.3))),
        "c": pa.array(nulls(np.round(rng.normal(size=n), 3).tolist(), 0.1), pa.float64()),
        "d": pa.array(nulls([f"u{int(v)}/{i}" for i, v in enumerate(rng.integers(0, 99, n))],
                            rng.uniform(0, 0.1))),
        "e": pa.array(rng.integers(0, 50, n).astype(np.int32)),
    })


def _fuzz_term(rng, t: pa.Table) -> tuple:
    n = t.num_rows

    def some(col):  # a present value, or None when the draw hits a null
        return t[col][int(rng.integers(0, n))].as_py()

    col = ["a", "b", "c", "d", "e"][int(rng.integers(0, 5))]
    if rng.random() < 0.15:
        return (col, ["isnull", "notnull"][int(rng.integers(0, 2))], None)
    if col in ("a", "e"):
        v = int(rng.integers(-520, 520)) if rng.random() < 0.3 else (some(col) or 0)
        op = ["==", "<", "<=", ">", ">=", "in"][int(rng.integers(0, 6))]
        return (col, op, [v, v + 1, int(rng.integers(-9, 9))] if op == "in" else v)
    if col == "c":
        return (col, [">", "<=", "=="][int(rng.integers(0, 3))], some(col) or 0.5)
    v = some(col) or "en"
    if col == "d":
        return (col, "==", v if rng.random() < 0.7 else v + "?absent") if rng.random() < 0.6 \
            else (col, "startswith", v[: int(rng.integers(1, 4))])
    op = ["==", "in", "startswith", "contains", "endswith", ">="][int(rng.integers(0, 6))]
    return (col, op, [v, "xx"] if op == "in" else v[: 1 + int(rng.integers(0, 2))]
            if op in ("startswith", "contains", "endswith") else v)


@pytest.mark.parametrize("seed", range(10))
def test_wcd_predicate_fuzz(tmp_path, seed):
    """Random flat tables with nulls, several row groups and small pages;
    random conjunct mixes, projections, row ranges and deletes. Every read
    equals ``pyarrow.compute`` on the source table, and match_positions the
    mask's positions."""
    rng = np.random.default_rng([seed, 29])
    t = _fuzz_table(rng, int(rng.integers(300, 4_000)))
    n = t.num_rows
    p = str(tmp_path / "t.wcd")
    config = EncoderConfig(page_row_count_limit=256 * int(rng.integers(1, 5)),
                           use_dictionary=bool(rng.random() < 0.8))
    filefmt.write_batches(t.to_batches(max_chunksize=int(rng.integers(100, 2_000))), p,
                          config, group_target_bytes=int(rng.integers(8, 200)) << 10)
    for _ in range(6):
        pred = [_fuzz_term(rng, t) for _ in range(int(rng.integers(1, 4)))]
        names = list(rng.permutation(t.column_names)[: int(rng.integers(1, 6))])
        keep = np.ones(n, dtype=bool)
        kw = {}
        if rng.random() < 0.3:
            lo = int(rng.integers(0, n))
            kw["row_range"] = (lo, lo + int(rng.integers(0, n)))
            keep[:] = False
            keep[lo : kw["row_range"][1]] = True
        if rng.random() < 0.3:
            kw["drop_rows"] = rng.choice(n, int(rng.integers(0, n // 2 + 1)), replace=False)
            keep[kw["drop_rows"]] = False
        got = filefmt.read_table(p, columns=names, predicate=pred, **kw)
        assert got.equals(_expected(t, pred, names, keep)), (pred, names, kw)
        assert filefmt.match_positions(p, pred).tolist() == (
            np.flatnonzero(_mask(t, pred)).tolist()), pred
