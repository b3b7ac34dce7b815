"""The per-file snapshot read, ``decode_job.read_file``: every Spark job
(``read_encoded``, the DataSource readers, ``rewrite_encoded`` and
``export_parquet``) reads a data file through it, so all of them see the
same rows and columns after deletes, renames, drops and added columns.

The fuzz family runs without a Spark session: it checks ``read_file``
against the same snapshot view built with pyarrow from the source table.
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from test_late_materialization import _fuzz_table, _fuzz_term, _mask

from webcodec import filefmt
from webcodec.config import EncoderConfig
from webcodec.spark.decode_job import read_file

KEY = bytes(range(32))
# Spark type strings of _fuzz_table's columns; "e" (int32) may be widened
_TYPES = {"a": "bigint", "b": "string", "c": "double", "d": "string", "e": "int"}
_ADDED = {"x_added": "bigint", "y_added": "string"}


def test_match_positions_needs_no_pyspark():
    """The produce side of positional deletes resolves renamed columns
    without loading the Spark layer."""
    code = (
        "import io, sys\n"
        "import pyarrow as pa\n"
        "from webcodec import filefmt\n"
        "buf = io.BytesIO()\n"
        "filefmt.write_table(pa.table({'a': list(range(10))}), buf)\n"
        "pos = filefmt.match_positions(buf.getvalue(), [('n', '>=', 7)],\n"
        "                              aliases={'n': ['a']})\n"
        "assert pos.tolist() == [7, 8, 9], pos\n"
        "assert 'pyspark' not in sys.modules\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root}
    subprocess.run([sys.executable, "-c", code], check=True, env=env, cwd=root)


def _snapshot(rng, t: pa.Table):
    """A random table schema over the file's columns: each is dropped, kept,
    or renamed through a chain of 1-3 names; some columns are added."""
    current, aliases, types = {}, {}, {}
    for col in t.column_names:
        r = rng.random()
        if r < 0.2:
            continue  # dropped: the chunk stays in the file, unread
        name = col
        if r < 0.6:
            chain = [col, *(f"{col}_v{k}" for k in range(int(rng.integers(0, 2))))]
            name = f"{col}_now"
            aliases[name] = chain
        current[name] = col
        types[name] = ("bigint" if col == "e" and rng.random() < 0.5 else _TYPES[col])
    for name, typ in _ADDED.items():
        if rng.random() < 0.5:
            types[name] = typ
    return current, aliases, types


def _expected(t, current, types, want, keep) -> pa.Table:
    sub = t.filter(pa.array(keep))
    out = sub.select([])
    for n in want:
        if n in current:
            col = sub[current[n]]
            if types[n] == "bigint" and col.type != pa.int64():
                col = col.cast(pa.int64())
        else:
            col = pa.nulls(sub.num_rows, pa.int64() if types[n] == "bigint" else pa.string())
        out = out.append_column(n, col)
    return out


@pytest.mark.parametrize("seed", range(16))
def test_read_file_fuzz_vs_pyarrow(tmp_path, seed):
    """Random rename chains, dropped and added columns, widened ints,
    positional and equality sidecars, row ranges, predicates and
    encryption: ``read_file`` returns exactly the snapshot's rows and
    columns, as pyarrow builds them from the source table."""
    rng = np.random.default_rng([seed, 41])
    t = _fuzz_table(rng, int(rng.integers(300, 3_000)))
    n = t.num_rows
    key = KEY if rng.random() < 0.2 else None
    p = str(tmp_path / "f.wcd")
    filefmt.write_batches(
        t.to_batches(max_chunksize=int(rng.integers(100, 2_000))), p,
        EncoderConfig(page_row_count_limit=256 * int(rng.integers(1, 5)),
                      use_dictionary=bool(rng.random() < 0.8), encryption_key=key),
        group_target_bytes=int(rng.integers(8, 200)) << 10)
    current, aliases, types = _snapshot(rng, t)
    local = {c: n for n, c in current.items()}  # file column -> current name
    for it in range(4):
        keep = np.ones(n, dtype=bool)
        row_range = None
        if rng.random() < 0.3:
            lo = int(rng.integers(0, n))
            row_range = (lo, lo + int(rng.integers(0, n)))
            keep[:] = False
            keep[lo:row_range[1]] = True
        sidecars = []
        for k in range(int(rng.integers(0, 3))):
            pos = np.unique(rng.choice(n, int(rng.integers(0, n // 3 + 1))))
            sidecars.append(str(tmp_path / f"del-{it}-{k}.bin"))
            open(sidecars[-1], "wb").write(pos.astype("<i8").tobytes())
            keep[pos] = False
        if rng.random() < 0.4:
            # equality sidecar keyed by a current name: renamed, kept, or
            # added (no chunk in this file: it can never match)
            knames = [local[c] for c in ("b", "e") if c in local] + list(_ADDED)
            kname = knames[int(rng.integers(0, len(knames)))]
            col = current.get(kname)
            is_str = col == "b" or kname == "y_added"
            pool = t[col].drop_null().to_pylist() if col else (["en", "de"] if is_str else [1, 2])
            vals = [pool[i] for i in rng.choice(len(pool), min(len(pool), 5), replace=False)]
            typ = pa.string() if is_str else pa.int64()
            sidecars.append(str(tmp_path / f"eq-{it}.parquet"))
            pq.write_table(pa.table({kname: pa.array(vals, typ)}), sidecars[-1])
            if col:
                keep &= np.array([v not in set(vals) for v in t[col].to_pylist()])
        pred = []
        for _ in range(int(rng.integers(0, 3))):
            c, op, v = _fuzz_term(rng, t)
            if c in local:
                pred.append((local[c], op, v))
                keep &= _mask(t, [(c, op, v)])
        added = [a for a in _ADDED if a in types]
        if added and rng.random() < 0.3:
            a = added[int(rng.integers(0, len(added)))]
            op = ["isnull", "notnull", "=="][int(rng.integers(0, 3))]
            pred.append((a, op, 1 if op == "==" else None))
            keep &= op == "isnull"  # an added column is all-null here
        names = list(types)
        want = [names[i] for i in rng.permutation(len(names))[: int(rng.integers(0, len(names) + 1))]]
        got = read_file(p, want, types, pred or None, row_range, tuple(sidecars),
                        aliases, key)
        exp = _expected(t, current, types, want, keep)
        assert got.num_rows == exp.num_rows and got.equals(exp), (
            want, pred, row_range, sidecars, aliases, types)


@pytest.mark.spark
def test_snapshot_readers_agree(spark, tmp_path):
    """After delete_where, delete_by_key, a rename, a drop and an appended
    file that adds a column, read_encoded, export_parquet (read back with
    pyarrow) and rewrite_encoded give the same rows and column names; an
    all-masked rewrite keeps every live row."""
    from webcodec.spark.datasource import WebcodecDataSource
    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import (
        delete_by_key,
        delete_where,
        drop_column,
        export_parquet,
        rename_column,
        rewrite_encoded,
    )

    n = 400
    t = pa.table({"id": pa.array(range(n), pa.int64()),
                  "lang": pa.array([["en", "de", "fr", "pt"][i % 4] for i in range(n)]),
                  "pii": pa.array([f"secret-{i}" for i in range(n)])})
    src = str(tmp_path / "src.parquet")
    pq.write_table(t, src)
    tb = str(tmp_path / "t")
    encode_table(spark.read.parquet(src).repartition(2), tb, write_metrics=False)
    assert delete_where(spark, tb, ("lang", "==", "pt"))["deleted_rows"] == n // 4
    delete_by_key(spark, tb, spark.createDataFrame([(i,) for i in range(0, n, 7)], "id long"),
                  ["id"])
    rename_column(tb, "lang", "language")
    drop_column(tb, "pii")
    spark.dataSource.register(WebcodecDataSource)
    add = pa.table({"id": pa.array(range(n, n + 50), pa.int64()),
                    "language": pa.array(["en"] * 50), "score": pa.array(range(50), pa.int64())})
    src2 = str(tmp_path / "add.parquet")
    pq.write_table(add, src2)
    spark.read.parquet(src2).write.format("webcodec").mode("append").option("path", tb).save()

    live = [i for i in range(n) if i % 4 != 3 and i % 7]
    want = pa.table({
        "id": pa.array(live + list(range(n, n + 50)), pa.int64()),
        "language": pa.array([["en", "de", "fr", "pt"][i % 4] for i in live] + ["en"] * 50),
        "score": pa.array([None] * len(live) + list(range(50)), pa.int64()),
    })

    def rows(tbl: pa.Table) -> pa.Table:
        return tbl.sort_by("id").combine_chunks()

    assert rows(read_encoded(spark, tb).toArrow()).equals(want)
    exp = str(tmp_path / "exp")
    export_parquet(spark, tb, exp)
    assert rows(pq.read_table(exp)).equals(want)
    rw = str(tmp_path / "rw")
    rewrite_encoded(spark, tb, rw)
    assert rows(read_encoded(spark, rw).toArrow()).equals(want)
    masked = str(tmp_path / "masked")
    rewrite_encoded(spark, tb, masked, mask_columns=want.column_names)
    back = read_encoded(spark, masked).toArrow()
    assert back.column_names == want.column_names and back.num_rows == want.num_rows
    assert all(c.null_count == back.num_rows for c in back.columns)
