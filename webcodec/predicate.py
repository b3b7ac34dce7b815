"""Predicate algebra for scan pruning (SURVEY.md §2.D4).

A predicate is a CONJUNCTION of simple terms, each a ``(column, op, value)``
tuple:

    ("lang", "==", "en")              equality
    ("ts", ">=", datetime(...))       range (two tuples make a closed range)
    ("lang", "in", ["en", "de"])      membership
    ("html", "isnull", None)          null test (value ignored)
    ("html", "notnull", None)
    ("url", "startswith", "https://a")  string prefix

Reference parity: the FilterApi/Operators predicate set (eq/lt/ltEq/gt/gtEq,
in, isNull/isNotNull) plus Spark's StringStartsWith, evaluated against
file/chunk statistics (StatisticsFilter), dictionaries (DictionaryFilter)
and bloom filters (BloomFilterImpl) — here in three tiers: manifest
(file-level), footer chunk, and per-page min/max.

Every helper answers "MAY rows in this unit match?" — pruning is always
conservative (unknown stats => keep), and the exact residual filter is
re-applied after decode, so semantics never depend on stats precision.
"""

from __future__ import annotations

from webcodec.types import PhysType

COMPARE_OPS = ("==", "<", "<=", ">", ">=")
ALL_OPS = COMPARE_OPS + ("in", "isnull", "notnull", "startswith", "contains", "endswith")
# substring ops can't be decided by min/max stats; they prune only at the
# dictionary level (exact scan of dict values) and are re-applied exactly
STRING_OPS = ("startswith", "contains", "endswith")


def normalize(predicate) -> list[tuple] | None:
    """Accept a single (col, op, value) tuple or a list of them; validate ops."""
    if predicate is None:
        return None
    if isinstance(predicate, tuple):
        predicate = [predicate]
    out = []
    for term in predicate:
        col, op, value = term
        if op not in ALL_OPS:
            raise ValueError(f"unsupported predicate op: {op!r}")
        out.append((col, op, value))
    return out or None


def _norm(value, phys: PhysType | None):
    if phys is None:
        return value
    from webcodec.stats import normalize_stat_value

    return normalize_stat_value(value, phys)


def _minmax(st: dict, phys: PhysType | None):
    lo, hi = st.get("min"), st.get("max")
    if phys is None:
        return lo, hi
    from webcodec.stats import decode_stat

    return decode_stat(lo, phys), decode_stat(hi, phys)


def _prefix_overlaps(lo, hi, p) -> bool:
    """May [lo, hi] contain a string starting with p?  All matches lie in
    [p, p_next); overlap iff hi >= p and lo[:len(p)] <= p. Safe under stat
    truncation: stored lo is a prefix (<= true min), stored hi is bumped
    (>= true max)."""
    if not isinstance(lo, str) or not isinstance(hi, str):
        return True
    return hi >= p and lo[: len(p)] <= p


def term_matches(
    st: dict, op: str, value, phys: PhysType | None, n_rows: int | None
) -> bool:
    """May a unit (page / chunk / file) with stats ``st`` contain a matching
    row?  ``st`` needs min/max (+ null_count when available); ``n_rows`` is
    the unit's row count (for notnull), None if unknown."""
    nc = st.get("null_count")
    if op == "isnull":
        return nc is None or nc > 0
    if op == "notnull":
        return nc is None or n_rows is None or nc < n_rows
    lo, hi = _minmax(st, phys)
    if lo is None or hi is None:
        # all-null units have no min/max: value ops cannot match there
        if nc is not None and n_rows is not None and nc >= n_rows:
            return False
        return True
    try:
        if op == "==":
            v = _norm(value, phys)
            return lo <= v <= hi
        if op == "<":
            return lo < _norm(value, phys)
        if op == "<=":
            return lo <= _norm(value, phys)
        if op == ">":
            return hi > _norm(value, phys)
        if op == ">=":
            return hi >= _norm(value, phys)
        if op == "in":
            return any(lo <= _norm(v, phys) <= hi for v in value)
        if op == "startswith":
            return _prefix_overlaps(lo, hi, value)
        # contains/endswith: min/max carries no information — keep
    except TypeError:
        return True
    return True


def _term_mask(arr, op: str, value):
    """Boolean mask of one conjunct over a decoded column (vectorized)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ops = {
        "==": pc.equal, "<": pc.less, "<=": pc.less_equal,
        ">": pc.greater, ">=": pc.greater_equal,
    }
    if op in ops:
        try:
            # build at the column's type directly (an untyped pa.scalar
            # infers int64 and overflows for uint64 values >= 2^63)
            scalar = pa.scalar(value, type=arr.type)
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError, TypeError):
            scalar = pa.scalar(value)
            if not scalar.type.equals(arr.type):
                scalar = scalar.cast(arr.type)
        return ops[op](arr, scalar)
    if op == "in":
        try:
            vals = pa.array(list(value), type=arr.type)
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError, TypeError):
            vals = pa.array(list(value)).cast(arr.type)
        return pc.is_in(arr, value_set=vals)
    if op == "isnull":
        return pc.is_null(arr)
    if op == "notnull":
        return pc.is_valid(arr)
    if op == "startswith":
        return pc.starts_with(arr, pattern=value)
    if op == "contains":
        return pc.match_substring(arr, pattern=value)
    if op == "endswith":
        return pc.ends_with(arr, pattern=value)
    raise ValueError(op)  # pragma: no cover — normalize() rejects unknown ops


def residual_filter(table, conjuncts: list[tuple]):
    """Exact post-decode filter — applied after pruning so results never
    depend on stats/bloom precision. Vectorized Arrow compute throughout."""
    for col, op, value in conjuncts:
        table = table.filter(_term_mask(table.column(col), op, value))
    return table

