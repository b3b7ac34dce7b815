"""Seeded input generators and the on-disk input cache of the benchmark.

Every workload input is made here from ``(seed, rows)``; the engine only ever
receives the generated table. Inputs are cached as Arrow IPC files under a
key that covers the generator version, the workload, the seed and the row
count, so a changed generator can never silently reuse stale input. Bump
``GENERATOR_VERSION`` whenever any generator's output changes (the digest
test in ``perfbench/tests`` fails until you do).

The size of the pyarrow reference file (``pq.write_table(..., "zstd")``) is
computed once per cached input, next to it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

GENERATOR_VERSION = 1

_TLDS = ("com", "org", "net", "io", "de", "fr")
_VOCAB = (
    "the quick brown fox jumps over lazy dog web page content data model "
    "spark encode column value stream batch language token corpus crawl "
    "archive index search result news sport weather travel market price"
).split()
# lang shares: "is" is the rare value the selective reads probe
LANGS = ("en", "de", "fr", "es", "zh", "ru", "is")
_LANG_P = (0.58, 0.1, 0.1, 0.08, 0.07, 0.062, 0.008)
TS_BASE = 1_700_000_000_000_000  # warc_ts epoch offset, microseconds
TS_SPAN = 10_000_000_000_000


def _domains(rng: np.random.Generator, n: int, n_domains: int = 400) -> pa.Array:
    names = pa.array([f"https://site{i:04d}.{_TLDS[i % len(_TLDS)]}/" for i in range(n_domains)])
    p = np.arange(1, n_domains + 1, dtype=np.float64) ** -1.2
    idx = rng.choice(n_domains, size=n, p=p / p.sum()).astype(np.int32)
    return names.take(pa.array(idx))


def _sentences(rng: np.random.Generator, n: int, pool: int = 512) -> pa.Array:
    """``n`` texts, each three sentences drawn from a seeded sentence pool."""
    sent = pa.array([" ".join(rng.choice(_VOCAB, size=rng.integers(16, 48))) for _ in range(pool)])
    parts = [sent.take(pa.array(rng.integers(0, pool, n, dtype=np.int32))) for _ in range(3)]
    return pc.binary_join_element_wise(*parts, ". ")


def _urls(rng: np.random.Generator, n: int) -> pa.Array:
    paths = pa.array([f"section{i % 23}/page" for i in range(97)])
    path = paths.take(pa.array(rng.integers(0, 97, n, dtype=np.int32)))
    ids = pa.array(rng.permutation(n).astype(str))  # unique per row
    return pc.binary_join_element_wise(_domains(rng, n), path, ids, pa.scalar(".html"), "")


def webpages(rows: int, seed: int) -> pa.Table:
    """Common-Crawl-style pages ``(url, warc_ts, html, text, lang)``.

    url is unique per row, warc_ts ascends (crawl order), html wraps the
    text in markup, lang is skewed with one rare value ("is")."""
    rng = np.random.default_rng([seed, 1])
    text = _sentences(rng, rows)
    html = pc.binary_join_element_wise(
        pa.scalar("<html><head><title>page</title></head><body><p>"),
        text, pa.scalar("</p><div class=\"nav\">"), text, pa.scalar("</div></body></html>"), "",
    ).cast(pa.binary())
    ts = TS_BASE + np.sort(rng.integers(0, TS_SPAN, rows, dtype=np.int64))
    lang = pa.array(LANGS).take(pa.array(rng.choice(len(LANGS), rows, p=_LANG_P).astype(np.int32)))
    return pa.table({
        "url": _urls(rng, rows),
        "warc_ts": pa.array(ts, pa.timestamp("us")),
        "html": html,
        "text": text,
        "lang": lang,
    })


def lineitem(rows: int, seed: int) -> pa.Table:
    """TPC-H-style lineitem, the 11 columns of the sf0.1 fixture, in the
    fixture's unsorted row order (orders of 1-7 lines, shuffled)."""
    rng = np.random.default_rng([seed, 2])
    lines = rng.integers(1, 8, rows, dtype=np.int64)
    orders = np.repeat(np.arange(1, rows + 1, dtype=np.int64) * 4, lines)[:rows]
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])[:rows].astype(np.int32)
    partkey = rng.integers(1, 20_001, rows, dtype=np.int64)
    quantity = rng.integers(1, 51, rows).astype(np.float64)
    retail = (90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1_000)) / 100.0
    ship_day = rng.integers(0, 2_526, rows)  # 1992-01-02 .. 1998-12-01
    shipdate = (np.datetime64("1992-01-02") + ship_day.astype("timedelta64[D]")).astype("datetime64[us]")
    returned = ship_day < 1_260
    flag = np.where(returned, np.where(rng.random(rows) < 0.5, "R", "A"), "N")
    perm = rng.permutation(rows)
    cols = {
        "l_orderkey": orders,
        "l_partkey": partkey,
        "l_suppkey": (partkey + rng.integers(0, 4, rows) * 251) % 1_000 + 1,
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * retail, 2),
        "l_discount": rng.integers(0, 11, rows) / 100.0,
        "l_tax": rng.integers(0, 9, rows) / 100.0,
        "l_returnflag": flag,
        "l_linestatus": np.where(ship_day > 1_260, "O", "F"),
        "l_shipdate": shipdate,
    }
    return pa.table({k: pa.array(v[perm]) for k, v in cols.items()})


_NESTED_TYPE = {
    "url": pa.string(),
    "fetch": pa.struct([("status", pa.int32()), ("mime", pa.string()), ("bytes", pa.int64())]),
    "headers": pa.map_(pa.string(), pa.string()),
    "links": pa.list_(pa.struct([("href", pa.string()), ("anchor", pa.string())])),
    "positions": pa.list_(pa.list_(pa.int32())),
    "keywords": pa.list_(pa.string()),
    "price": pa.decimal128(12, 2),
}


def nested(rows: int, seed: int) -> pa.Table:
    """Crawl records with struct, map, list<struct>, list<list<int32>>,
    list<string> and decimal128 columns next to a flat unique ``url``.
    About 3% of the nested values are null."""
    rng = np.random.default_rng([seed, 3])
    urls = _urls(rng, rows).to_pylist()
    words = np.array(_VOCAB)
    mimes = ["text/html", "application/json", "text/plain"]
    hdr_keys = ["server", "content-type", "cache-control", "etag", "vary"]

    def null(p=0.03):
        return rng.random() < p

    fetch, headers, links, positions, keywords, price = [], [], [], [], [], []
    for i in range(rows):
        fetch.append(None if null() else {
            "status": int(rng.choice([200, 200, 200, 301, 404])),
            "mime": mimes[int(rng.integers(0, 3))],
            "bytes": int(rng.integers(500, 200_000)),
        })
        k = int(rng.integers(0, 4))
        headers.append(None if null() else [(hdr_keys[j], str(words[rng.integers(0, len(words))])) for j in range(k)])
        links.append(None if null() else [
            {"href": f"{urls[int(rng.integers(0, rows))]}#{j}", "anchor": " ".join(rng.choice(words, 2))}
            for j in range(int(rng.integers(0, 5)))
        ])
        positions.append(None if null() else [
            [int(x) for x in np.cumsum(rng.integers(1, 40, int(rng.integers(0, 5))))]
            for _ in range(int(rng.integers(0, 4)))
        ])
        keywords.append(None if null() else list(rng.choice(words, int(rng.integers(0, 6)))))
        price.append(None if null() else Decimal(int(rng.integers(0, 10**8))).scaleb(-2))
    data = {"url": urls, "fetch": fetch, "headers": headers, "links": links,
            "positions": positions, "keywords": keywords, "price": price}
    return pa.table({k: pa.array(v, _NESTED_TYPE[k]) for k, v in data.items()})


GENERATORS = {"webpages": webpages, "lineitem": lineitem, "nested": nested}


def cache_key(kind: str, seed: int, rows: int) -> str:
    return f"{kind}-v{GENERATOR_VERSION}-s{seed}-n{rows}"


def reference_bytes(table: pa.Table) -> int:
    """Bytes the pyarrow reference writer produces for ``table`` (zstd)."""
    import pyarrow.parquet as pq

    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="zstd")
    return sink.getvalue().size


def materialize(kind: str, seed: int, rows: int, cache_dir: str, parquet_groups: int = 0,
                warm_rows: int = 0) -> tuple[str, dict]:
    """Write the input and its reference size under ``cache_dir``; returns
    ``(ipc_path, info)``. With ``parquet_groups`` the input (and its first
    ``warm_rows`` rows) is also written as parquet with that many row
    groups, for jobs that scan parquet. Idempotent: existing entries stay."""
    os.makedirs(cache_dir, exist_ok=True)
    base = os.path.join(cache_dir, cache_key(kind, seed, rows))
    table = None
    if not os.path.exists(base + ".json"):
        table = GENERATORS[kind](rows, seed)
        tmp = base + f".{os.getpid()}.tmp"
        with pa.OSFile(tmp, "wb") as f, pa.ipc.new_file(f, table.schema) as w:
            w.write_table(table)
        os.replace(tmp, base + ".arrow")
        info = {"rows": table.num_rows, "raw_bytes": table.nbytes, "ref_bytes": reference_bytes(table)}
        with open(base + ".json.tmp", "w") as f:
            json.dump(info, f)
        os.replace(base + ".json.tmp", base + ".json")
    if parquet_groups:
        import pyarrow.parquet as pq

        for path, n in parquet_paths(base, parquet_groups, warm_rows).items():
            if not os.path.exists(path):
                if table is None:
                    table = _read_ipc(base + ".arrow")
                t = table.slice(0, n)
                pq.write_table(t, path + ".tmp", compression="zstd",
                               row_group_size=max(-(-t.num_rows // parquet_groups), 1))
                os.replace(path + ".tmp", path)
    with open(base + ".json") as f:
        return base + ".arrow", json.load(f)


def parquet_paths(base: str, groups: int, warm_rows: int) -> dict[str, int]:
    """parquet copies of an input: path -> number of leading rows it holds."""
    return {f"{base}.g{groups}.parquet": 1 << 62, f"{base}.g{groups}.warm{warm_rows}.parquet": warm_rows}


def _read_ipc(path: str) -> pa.Table:
    with pa.OSFile(path, "rb") as f:
        return pa.ipc.open_file(f).read_all()


def load(kind: str, seed: int, rows: int, cache_dir: str, parquet_groups: int = 0,
         warm_rows: int = 0) -> tuple[pa.Table, dict]:
    """The cached input as an in-memory table plus its info dict.

    Missing entries are written by a child process, so the generator's
    temporaries never count toward this process's peak memory."""
    base = os.path.join(cache_dir, cache_key(kind, seed, rows))
    wanted = [base + ".json"] + list(parquet_paths(base, parquet_groups, warm_rows) if parquet_groups else ())
    if not all(os.path.exists(p) for p in wanted):
        subprocess.run(
            [sys.executable, "-c",
             "import sys; sys.path.insert(0, sys.argv[1]); import gen; "
             "gen.materialize(sys.argv[2], *map(int, sys.argv[3:5]), sys.argv[5], *map(int, sys.argv[6:]))",
             os.path.dirname(os.path.abspath(__file__)), kind, str(seed), str(rows), cache_dir,
             str(parquet_groups), str(warm_rows)],
            check=True, timeout=600,
        )
    path, info = materialize(kind, seed, rows, cache_dir)
    return _read_ipc(path), info
