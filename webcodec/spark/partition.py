"""Iceberg-style partition spec: transforms, fanout split, manifest pruning.

Reference parity (SURVEY.md §2.D2 file pruning; Iceberg's public partition
spec): a table may declare hidden partitioning via transforms over source
columns —

    identity:   "lang"
    temporal:   "days(ts)"  "hours(ts)"  "months(ts)"  "years(ts)"
    bucket:     "bucket(16, url)"     (hash % N, equality/IN pruning only)
    truncate:   "truncate(4, url)"    (string prefix / int floor-to-multiple)

Writers FAN OUT each task's rows into one file per partition tuple (the
Iceberg fanout-writer shape — no extra shuffle; at 10^12-document scale a
whole-table exchange just to co-locate partition values would dwarf the
encode itself; an optional hash distribution can still be layered by the
caller with a plain repartition). Each manifest entry carries its
``partition`` tuple; readers
prune files by rewriting predicate terms into intervals over the SOURCE
column (days(ts)=d -> ts in [d*86400e6, (d+1)*86400e6)), so queries never
mention partition fields — Iceberg's "hidden partitioning" contract.

All transform math is vectorized (numpy / pyarrow compute / the md5v
kernel); the per-task group split is one dictionary-encode + one argsort.
"""

from __future__ import annotations

import datetime
import json
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

_US_PER_DAY = 86_400_000_000
_US_PER_HOUR = 3_600_000_000

# fanout pid layout: FANOUT_FLAG | (task/split id << PID_SHIFT) + seq. 2^20
# fanout files per task is far beyond any sane fanout (Iceberg's own
# fanout writers cap open files in the hundreds). The high flag bit keeps
# fanout pids disjoint from plain split ids in one manifest — task 0's
# fanout pids 0..k would otherwise SHADOW a previous plain commit's entries
# 0..k under the manifest's overwrite-by-pid semantics.
PID_SHIFT = 20
FANOUT_FLAG = 1 << 62

_FUNC_RE = re.compile(r"^(\w+)\s*\(\s*([^()]*)\s*\)$")


def parse_partition_spec(spec: list[str]) -> list[dict]:
    """Parse ["lang", "days(ts)", "bucket(16, url)"] into field dicts
    {kind, col, arg, name}. Field names follow Iceberg: <col>_<kind-suffix>."""
    out: list[dict] = []
    for raw in spec:
        s = raw.strip()
        m = _FUNC_RE.match(s)
        if m is None:
            if not re.match(r"^\w+$", s):
                raise ValueError(f"malformed partition transform: {raw!r}")
            out.append({"kind": "identity", "col": s, "arg": None, "name": s})
            continue
        kind, args = m.group(1).lower(), [a.strip() for a in m.group(2).split(",")]
        if kind in ("days", "hours", "months", "years", "day", "hour", "month", "year"):
            if len(args) != 1:
                raise ValueError(f"{kind}() takes one column: {raw!r}")
            kind = kind.rstrip("s") if kind.endswith("s") else kind
            kind = {"day": "days", "hour": "hours", "month": "months", "year": "years"}[kind]
            suffix = {"days": "day", "hours": "hour", "months": "month", "years": "year"}[kind]
            out.append({"kind": kind, "col": args[0], "arg": None,
                        "name": f"{args[0]}_{suffix}"})
        elif kind in ("bucket", "truncate"):
            if len(args) != 2 or not args[0].isdigit():
                raise ValueError(f"{kind}(N, col) expected: {raw!r}")
            n = int(args[0])
            if n <= 0:
                raise ValueError(f"{kind} width/count must be positive: {raw!r}")
            suffix = "bucket" if kind == "bucket" else "trunc"
            out.append({"kind": kind, "col": args[1], "arg": n,
                        "name": f"{args[1]}_{suffix}"})
        else:
            raise ValueError(f"unknown partition transform {kind!r} in {raw!r}")
    names = [f["name"] for f in out]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate partition field names: {names}")
    return out


def validate_spec(spec: list[dict], columns: list[str]) -> None:
    missing = [f["col"] for f in spec if f["col"] not in columns]
    if missing:
        raise ValueError(f"partition transform source column(s) {missing} "
                         f"not in schema {columns}")


# ------------------------------ transforms -----------------------------------


def _ts_micros(arr: pa.Array) -> np.ndarray:
    """int64 epoch micros with nulls as a mask; accepts timestamp[us/ns/ms/s]
    and date32."""
    t = arr.type
    if pa.types.is_date32(t):
        ints = arr.cast(pa.int32())
        if ints.null_count:
            ints = pc.fill_null(ints, 0)  # caller re-masks nulls
        return ints.to_numpy(zero_copy_only=False).astype(np.int64) * _US_PER_DAY
    if pa.types.is_timestamp(t):
        ints = arr.cast(pa.timestamp("us")).cast(pa.int64())
        if ints.null_count:
            ints = pc.fill_null(ints, 0)
        return ints.to_numpy(zero_copy_only=False).astype(np.int64)
    raise TypeError(f"temporal partition transform over non-temporal type {t}")


def bucket_of_array(arr: pa.Array, n: int) -> np.ndarray:
    """Deterministic hash bucket per value (md5-based — NEVER python hash(),
    which is process-salted). Strings/binary hash their bytes; integers hash
    their 8-byte little-endian encoding."""
    from webcodec.kernels.md5v import md5_u64le, md5_u64le_arrow

    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t) or \
            pa.types.is_binary(t) or pa.types.is_large_binary(t):
        h = md5_u64le_arrow(arr)
    elif pa.types.is_integer(t) or pa.types.is_date32(t) or pa.types.is_timestamp(t):
        if pa.types.is_timestamp(t):
            ints = _ts_micros(arr)
        else:
            ints = pc.fill_null(arr.cast(pa.int64()), 0).to_numpy(
                zero_copy_only=False).astype(np.int64)
        data = ints.astype("<i8").view(np.uint8)
        offsets = np.arange(len(ints) + 1, dtype=np.int64) * 8
        h = md5_u64le(offsets, data)
    else:
        raise TypeError(f"bucket() over unsupported type {t}")
    return (h % np.uint64(n)).astype(np.int64)


def bucket_of_value(value, n: int) -> int:
    """Driver-side single-value twin of :func:`bucket_of_array` (pruning)."""
    if isinstance(value, str):
        arr = pa.array([value], pa.string())
    elif isinstance(value, bytes):
        arr = pa.array([value], pa.binary())
    elif isinstance(value, (datetime.datetime, datetime.date, int, np.integer)):
        if isinstance(value, datetime.datetime):
            arr = pa.array([value], pa.timestamp("us"))
        elif isinstance(value, datetime.date):
            arr = pa.array([value], pa.date32())
        else:
            arr = pa.array([int(value)], pa.int64())
    else:
        raise TypeError(f"bucket pruning over unsupported literal {type(value)}")
    return int(bucket_of_array(arr, n)[0])


def transform_array(arr: pa.Array, field: dict) -> pa.Array:
    """Per-row partition value of one spec field, as a flat Arrow array
    (int64 for temporal/bucket/int-truncate, source type for identity and
    string truncate). Nulls stay null (the Iceberg null partition)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    kind = field["kind"]
    if kind == "identity":
        if pa.types.is_timestamp(arr.type):
            return arr.cast(pa.timestamp("us")).cast(pa.int64())
        return arr
    null_mask = arr.is_null() if arr.null_count else None
    if kind in ("days", "hours"):
        us = _ts_micros(arr)
        div = _US_PER_DAY if kind == "days" else _US_PER_HOUR
        vals = np.floor_divide(us, div)
        out = pa.array(vals, pa.int64())
    elif kind in ("months", "years"):
        # UTC calendar math via datetime64 (pc.year/pc.month would localize
        # tz-aware arrays to the session zone, silently disagreeing with the
        # UTC month bounds file_may_match prunes with — and with days/hours)
        us = _ts_micros(arr)
        months = us.astype("M8[us]").astype("M8[M]").astype(np.int64)
        vals = months if kind == "months" else np.floor_divide(months, 12)
        out = pa.array(vals, pa.int64())
    elif kind == "bucket":
        out = pa.array(bucket_of_array(arr, field["arg"]), pa.int64())
    elif kind == "truncate":
        w = field["arg"]
        if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
            return pc.utf8_slice_codeunits(arr, 0, w)
        if pa.types.is_integer(arr.type):
            ints = pc.fill_null(arr.cast(pa.int64()), 0).to_numpy(
                zero_copy_only=False).astype(np.int64)
            vals = np.floor_divide(ints, w) * w  # floor semantics for negatives
            out = pa.array(vals, pa.int64())
        else:
            raise TypeError(f"truncate() over unsupported type {arr.type}")
    else:  # pragma: no cover — parse_partition_spec rejects unknown kinds
        raise ValueError(kind)
    if null_mask is not None:
        out = pc.if_else(null_mask, pa.scalar(None, out.type), out)
    return out


def split_by_partition(table: pa.Table, spec: list[dict]) -> list[tuple[dict, pa.Table]]:
    """Fanout split: [(partition_values_dict, sub_table)] sorted by canonical
    tuple key (deterministic file order). One dictionary-encode per
    field + one stable argsort over combined codes — no per-row python."""
    n = table.num_rows
    if n == 0:
        return []
    codes = np.zeros(n, dtype=np.int64)
    dicts: list[pa.Array] = []
    radix = 1
    for field in spec:
        tr = transform_array(table.column(field["col"]), field)
        de = tr.dictionary_encode()
        idx = de.indices.to_numpy(zero_copy_only=False)
        c = np.where(np.isnan(idx), -1, idx).astype(np.int64) if idx.dtype.kind == "f" \
            else idx.astype(np.int64)
        k = len(de.dictionary) + 1  # +1 for the null slot
        radix *= k
        if radix > (1 << 62):
            raise ValueError(
                "partition spec is too fine-grained for this task's rows "
                f"(mixed-radix tuple space {radix} overflows): partition "
                "columns must be low-cardinality — use bucket()/truncate()/"
                "temporal transforms instead of identity over unique values"
            )
        codes = codes * k + (c + 1)
        dicts.append(de.dictionary)
    uniq, inverse = np.unique(codes, return_inverse=True)
    order = np.argsort(inverse, kind="stable")
    bounds = np.searchsorted(inverse[order], np.arange(len(uniq)))
    bounds = np.append(bounds, n)
    out = []
    for g, code in enumerate(uniq):
        vals: dict = {}
        c = int(code)
        for field, d in zip(reversed(spec), reversed(dicts)):
            k = len(d) + 1
            slot = c % k
            c //= k
            vals[field["name"]] = None if slot == 0 else _json_value(d[slot - 1])
        idx = order[bounds[g]:bounds[g + 1]]
        out.append((vals, table.take(pa.array(idx))))
    out.sort(key=lambda t: json.dumps(t[0], sort_keys=True, default=str))
    return out


def _json_value(scalar: pa.Scalar):
    v = scalar.as_py()
    if isinstance(v, bytes):
        import base64

        return base64.b64encode(v).decode()
    if isinstance(v, (datetime.datetime, datetime.date)):
        # identity over temporal columns stores epoch micros/days
        if isinstance(v, datetime.datetime):
            return int(pa.scalar(v, pa.timestamp("us")).value)
        return v.toordinal() - 719_163
    return v


def spark_partition_exprs(spec: list[dict]):
    """Spark Column expressions approximating each transform — used ONLY for
    write distribution (repartition co-locates same-tuple rows so the fanout
    writer emits ~1 file per tuple instead of tasks x tuples). Correctness
    never depends on them: the Arrow-side transforms assign the manifest
    tuples; a mismatch here merely costs extra files. bucket() uses
    xxhash64 (not the manifest's md5) for exactly that reason — co-location
    needs any deterministic hash, pruning needs the md5 twin."""
    from pyspark.sql import functions as F

    out = []
    for field in spec:
        col = F.col(field["col"])
        kind = field["kind"]
        if kind == "identity":
            out.append(col)
        elif kind == "days":
            out.append(F.floor(F.unix_micros(col.cast("timestamp")) / F.lit(_US_PER_DAY)))
        elif kind == "hours":
            out.append(F.floor(F.unix_micros(col.cast("timestamp")) / F.lit(_US_PER_HOUR)))
        elif kind == "months":
            out.append((F.year(col) - F.lit(1970)) * F.lit(12) + F.month(col) - F.lit(1))
        elif kind == "years":
            out.append(F.year(col) - F.lit(1970))
        elif kind == "bucket":
            out.append(F.pmod(F.xxhash64(col), F.lit(field["arg"])))
        elif kind == "truncate":
            out.append(F.substring(col.cast("string"), 1, field["arg"]))
    return out


# ------------------------------- pruning --------------------------------------


# months-since-epoch values whose [start, end] month interval is exactly
# representable as datetime64[us] int64 without wraparound; beyond these the
# M->us cast silently overflows and would hand the pruner an inverted/garbage
# interval that MIS-PRUNES files (wrong answers, not an error)
_MONTH_US_SAFE_LO = -3_400_000   # ~year -281k; us-epoch min is ~year -290k
_MONTH_US_SAFE_HI = 3_400_000    # ~year +285k; us-epoch max is ~year +294k


def _month_bounds_us(months_since_epoch: int) -> tuple[int, int]:
    # numpy datetime64 arithmetic (like transform_array): datetime.datetime
    # raises outside years 1..9999, so a single extreme sentinel timestamp in
    # the data would break every subsequent predicate scan at plan time.
    # Outside the us-representable window the cast wraps on int64 overflow —
    # return the conservative full int64 range there (keeps the file; a
    # sentinel month far past year 294k can never be pruned, only kept).
    m = int(months_since_epoch)
    if not (_MONTH_US_SAFE_LO <= m <= _MONTH_US_SAFE_HI):
        i64 = np.iinfo(np.int64)
        return (int(i64.min) + 1, int(i64.max) - 1)
    start = np.datetime64(0, "M") + m
    end = start + 1
    return (int(start.astype("datetime64[us]").astype(np.int64)),
            int(end.astype("datetime64[us]").astype(np.int64)) - 1)


def file_may_match(spec: list[dict], fpart: dict, col: str, op: str, value,
                   coltype: str | None) -> bool:
    """May a file whose partition tuple is ``fpart`` contain rows matching
    (col, op, value)?  Conservative: unknown transform/ops keep the file.
    identity/temporal/truncate prune by synthesizing a [min,max] interval
    over the SOURCE column and reusing the stats algebra; bucket prunes
    equality/IN by hashing the literal."""
    from webcodec import predicate as predmod
    from webcodec.stats import normalize_stat_value
    from webcodec.types import PhysType

    phys_of = {"timestamp": PhysType.TIMESTAMP_US,
               "timestamp_ntz": PhysType.TIMESTAMP_US,
               "date": PhysType.DATE32, "binary": PhysType.BINARY}
    phys = phys_of.get(coltype or "")
    for field in spec:
        if field["col"] != col or field["name"] not in fpart:
            continue
        v = fpart[field["name"]]
        if v is None:
            # the null partition: every row's source value is null there
            if op == "isnull":
                continue
            if op == "notnull" or op in predmod.COMPARE_OPS or op in (
                    "in", "startswith", "contains", "endswith"):
                return False
            continue
        if op == "isnull":
            return False  # non-null partition holds no nulls of this column
        if op == "notnull":
            continue
        kind = field["kind"]
        if kind == "identity":
            st = {"min": v, "max": v, "null_count": 0}
            # identity values are stored pre-normalized (micros/days/b64)
            if phys is PhysType.BINARY:
                pass  # stored b64, decode_stat in term_matches handles it
            if not predmod.term_matches(st, op, value, phys, 1):
                return False
        elif kind in ("days", "hours"):
            unit = _US_PER_DAY if kind == "days" else _US_PER_HOUR
            lo, hi = int(v) * unit, (int(v) + 1) * unit - 1
            if coltype == "date":
                lo, hi = lo // _US_PER_DAY, hi // _US_PER_DAY
            st = {"min": lo, "max": hi, "null_count": 0}
            if not predmod.term_matches(st, op, value, phys, None):
                return False
        elif kind in ("months", "years"):
            months = int(v) * 12 if kind == "years" else int(v)
            lo, _ = _month_bounds_us(months)
            _, hi = _month_bounds_us(months + (11 if kind == "years" else 0))
            if coltype == "date":
                lo, hi = lo // _US_PER_DAY, hi // _US_PER_DAY
            st = {"min": lo, "max": hi, "null_count": 0}
            if not predmod.term_matches(st, op, value, phys, None):
                return False
        elif kind == "truncate":
            w = field["arg"]
            if isinstance(v, str):
                from webcodec.stats import _bump_last

                st = {"min": v, "max": _bump_last(v) if len(v) >= w else v,
                      "null_count": 0}
            else:
                st = {"min": int(v), "max": int(v) + w - 1, "null_count": 0}
            if not predmod.term_matches(st, op, value, phys, None):
                return False
        elif kind == "bucket":
            try:
                if op == "==":
                    if bucket_of_value(value, field["arg"]) != int(v):
                        return False
                elif op == "in":
                    if all(bucket_of_value(x, field["arg"]) != int(v)
                           for x in value):
                        return False
            except TypeError:
                continue  # unhashable literal type: keep
    return True


def prune_files(files: list[dict], spec: list[dict], conjuncts: list[tuple],
                types: dict[str, str]) -> list[dict]:
    kept = []
    for f in files:
        fpart = f.get("partition")
        if not fpart:
            kept.append(f)
            continue
        ok = all(
            file_may_match(spec, fpart, col, op, value, types.get(col))
            for col, op, value in conjuncts
        )
        if ok:
            kept.append(f)
    return kept
