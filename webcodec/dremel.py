"""One Dremel core: record shredding into repetition/definition levels and
record assembly from them (Melnik et al., VLDB'10; SURVEY §2 E1/E2).

Every nested value webcodec reads or writes goes through this module:

- ``parquet_writer`` shreds each nested column into parquet leaf chunks;
- ``parquet_interop`` assembles the leaf chunks of real parquet files;
- ``filefmt`` stores every nested and decimal ``.wcd`` column as Dremel
  leaves (per leaf: :func:`pack_levels` bytes plus the valid values) and
  assembles them on read with :func:`arrow_leaf`.

A column is a tree of nodes: lists and maps repeat (each adds one
repetition level and one definition level for "defined but empty"), and
optional nodes add one definition level for "not null". A leaf's *entry
stream* has one (rep, def) pair per value slot: rep says at which list depth
the entry starts a new item (0 = a new top-level row), def how deep the path
is defined. Entries with ``def == max_def`` carry a value; values are stored
valid-only, in entry order.

Shredding and assembly work on list<>; :func:`plain_lists` maps Arrow's
large_list and fixed_size_list onto it.

Nullability: :func:`assemble` gives a node its "not null" level when its
Arrow field is nullable. :func:`shred` does the same with
``all_optional=False``, so ``.wcd`` shredding and assembly read the levels
from one Arrow type. Parquet export shreds with ``all_optional=True``
because its schema writes every node OPTIONAL except map keys.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from webcodec.colcodec import rebuild_with_nulls
from webcodec.kernels import bitpack
from webcodec.types import restore_array


class _Nst:
    """Dremel shredding state over the column's ENTRY list: one slot per
    output (rep, def) entry. Terminated entries (null/empty somewhere up the
    path) carry their final def in ``dfn``; live entries continue into the
    subtree and their values sit, in entry order, in ``values`` (length =
    live.sum())."""

    __slots__ = ("rep", "dfn", "live", "values")

    def __init__(self, rep, dfn, live, values):
        self.rep, self.dfn, self.live, self.values = rep, dfn, live, values


def _nst_optional(st: _Nst, d: int) -> _Nst:
    """Nullability step: null values terminate at def ``d``; valid values
    continue (having earned def d+1)."""
    n = len(st.live)
    if len(st.values) == 0:
        return st
    v = pc.is_valid(st.values).to_numpy(zero_copy_only=False).astype(bool)
    full = np.zeros(n, bool)
    full[st.live] = v
    dfn = st.dfn.copy()
    dfn[st.live & ~full] = d
    return _Nst(st.rep, dfn, st.live & full, st.values.drop_null())


def _nst_repeated(st: _Nst, d: int, r: int) -> _Nst:
    """List-expansion step (values must be a valid-only ListArray): each
    live entry becomes its element entries (first keeps the entry's rep,
    the rest get rep ``r``); empty lists terminate at def ``d`` (the
    defined-but-empty level)."""
    arr = st.values
    n = len(st.live)
    lens = (pc.list_value_length(arr).to_numpy(zero_copy_only=False)
            .astype(np.int64) if len(arr) else np.zeros(0, np.int64))
    lens_full = np.zeros(n, np.int64)
    lens_full[st.live] = lens
    counts = np.maximum(lens_full, 1)  # terminated/empty entries keep 1 slot
    idx = np.repeat(np.arange(n), counts)
    total = int(counts.sum())
    new_rep = st.rep[idx].copy()
    starts = np.cumsum(counts) - counts
    first = np.zeros(total, bool)
    first[starts] = True
    new_rep[~first] = r
    new_dfn = st.dfn[idx].copy()
    empty = st.live & (lens_full == 0)
    new_dfn[starts[empty]] = d
    new_live = st.live[idx] & (lens_full[idx] > 0)
    return _Nst(new_rep, new_dfn, new_live, arr.flatten())


def _walk(st: _Nst, t, path, d, r, optional, all_optional, leaves) -> None:
    # a module function, not a closure in shred(): a recursive closure is a
    # reference cycle that keeps every leaf's values alive until a GC pass
    if optional:
        st = _nst_optional(st, d)
        d += 1
    elif st.values.null_count:
        raise ValueError(f"non-nullable field {'.'.join(path)!r} holds nulls")
    if pa.types.is_map(t):
        if pa.types.is_nested(t.key_type):
            raise TypeError(f"nested map keys unsupported: {'.'.join(path)!r}")
        kv_list = pa.list_(pa.struct([t.key_field, t.item_field]))
        st = _nst_repeated(_Nst(st.rep, st.dfn, st.live, st.values.cast(kv_list)),
                           d, r + 1)
        kv = st.values  # struct<key, value>, entries never null
        _walk(_Nst(st.rep, st.dfn, st.live, kv.field(0)), t.key_type,
              path + ["key_value", "key"], d + 1, r + 1, False, all_optional, leaves)
        _walk(_Nst(st.rep, st.dfn, st.live, kv.field(1)), t.item_type,
              path + ["key_value", "value"], d + 1, r + 1,
              all_optional or t.item_field.nullable, all_optional, leaves)
    elif pa.types.is_list(t):
        st = _nst_repeated(st, d, r + 1)
        _walk(st, t.value_type, path + ["list", "element"], d + 1, r + 1,
              all_optional or t.value_field.nullable, all_optional, leaves)
    elif pa.types.is_struct(t):
        if t.num_fields == 0:
            raise TypeError(f"empty struct unsupported: {'.'.join(path)!r}")
        for i, f in enumerate(t):
            _walk(_Nst(st.rep, st.dfn, st.live, st.values.field(i)), f.type,
                  path + [f.name], d, r, all_optional or f.nullable, all_optional,
                  leaves)
    elif pa.types.is_nested(t):
        raise TypeError(f"unsupported nested type {t}")
    else:
        dfn = st.dfn.copy()
        dfn[st.live] = d
        leaves.append({
            "path": path, "leaf": st.values, "rep": st.rep if r > 0 else None,
            "defs": dfn, "max_rep": r, "max_def": d, "type": t,
        })


def shred(name: str, arr: pa.Array, all_optional: bool = True) -> list[dict]:
    """Arbitrary-depth Dremel shredding of one column: one dict per LEAF,
    depth-first in schema order (parquet's chunk order) — {path, leaf
    (valid values only), rep (None when max_rep is 0), defs, max_rep,
    max_def, type}. The column itself is optional; other nodes are optional
    when ``all_optional`` or their Arrow field is nullable, map keys never.
    A non-optional node holding a null raises ``ValueError``."""
    n = len(arr)
    leaves: list[dict] = []
    _walk(_Nst(np.zeros(n, np.uint32), np.zeros(n, np.uint32), np.ones(n, bool), arr),
          arr.type, [name], 0, 0, True, all_optional, leaves)
    return leaves


def plain_lists(t: pa.DataType, nested_only: bool = False) -> pa.DataType:
    """``t`` with large_list / fixed_size_list nodes made list<>: all of
    them, or with ``nested_only`` those over nested or decimal values."""
    if pa.types.is_struct(t):
        return pa.struct([f.with_type(plain_lists(f.type, nested_only)) for f in t])
    if pa.types.is_map(t):
        return pa.map_(t.key_field,
                       t.item_field.with_type(plain_lists(t.item_type, nested_only)))
    if not (pa.types.is_list(t) or pa.types.is_large_list(t)
            or pa.types.is_fixed_size_list(t)):
        return t
    vf = t.value_field.with_type(plain_lists(t.value_type, nested_only))
    if nested_only and not (pa.types.is_nested(vf.type) or pa.types.is_decimal(vf.type)):
        return t
    return pa.list_(vf)


def pack_levels(rep, defs: np.ndarray, max_rep: int, max_def: int) -> bytes:
    """One leaf's levels as ``.wcd`` pages store them: rep (when max_rep >
    0) then def, each fixed-width bit-packed at the bit length of its max
    level. (RLE runs decode in Python; level streams have many short runs.)"""
    out = bitpack.pack(defs, max_def.bit_length())
    return out if rep is None else bitpack.pack(rep, max_rep.bit_length()) + out


def unpack_levels(data, n: int, max_rep: int, max_def: int):
    """Inverse of :func:`pack_levels` for ``n`` entries that start a row:
    (rep or None, def). Bytes that do not hold that raise ``ValueError``."""
    wr, wd = max_rep.bit_length(), max_def.bit_length()
    nr = (n * wr + 7) // 8
    if len(data) != nr + (n * wd + 7) // 8:
        raise ValueError(f"{len(data)} level bytes for {n} entries")
    rep = bitpack.unpack(data, wr, n) if max_rep else None
    dfn = bitpack.unpack(data[nr:], wd, n)
    if n and (dfn.max() > max_def or rep is not None and (rep[0] or rep.max() > max_rep)):
        raise ValueError("levels out of range")
    return rep, dfn


def leaf_types(t: pa.DataType) -> list[pa.DataType]:
    """Leaf types of ``t`` in :func:`shred` order."""
    if pa.types.is_list(t):
        return leaf_types(t.value_type)
    if pa.types.is_map(t):
        return [t.key_type] + leaf_types(t.item_type)
    if pa.types.is_struct(t):
        return [lt for f in t for lt in leaf_types(f.type)]
    return [t]


def validity_buf(validity: np.ndarray):
    """Arrow validity bitmap of a boolean mask, or None when all valid."""
    if validity.all():
        return None
    return pa.py_buffer(np.packbits(validity, bitorder="little").tobytes())


def arrow_leaf(vals, defs: np.ndarray, max_def: int, t: pa.DataType) -> pa.Array:
    """Leaf builder for valid values held as an Arrow array at ``t``'s
    storage type (``types.widened``), or for a decimal as its (n, lanes)
    little-endian int64 matrix: one slot per entry, null where def < max_def."""
    present = defs == max_def
    if pa.types.is_decimal(t):
        if not present.all():
            full = np.zeros((len(present), vals.shape[1]), "<i8")
            full[present] = vals
            vals = full
        return pa.Array.from_buffers(t, len(present), [
            validity_buf(present), pa.py_buffer(np.ascontiguousarray(vals))])
    if not present.all():
        vals = rebuild_with_nulls(vals, present, vals.type)
    return restore_array(vals, t) if vals.type != t else vals


def assemble(t, streams: list[dict], leaf=arrow_leaf, nullable: bool = True,
             d: int = 0, r: int = 0):
    """Recursive Dremel record assembly: returns an arrow array of type
    ``t`` with ONE slot per level-``r`` item in the entry streams (items =
    entries with rep <= r; one stream per leaf of ``t``, each {vals, rep,
    def}); slots whose first-entry def < the node's defined level come out
    null (covers both null-at-this-node and terminated ancestors — the
    parent's offsets/validity slice them correctly). ``d`` is the def level
    EARNED entering the node; the node itself adds one when ``nullable``.
    ``leaf(vals, defs, max_def, type)`` builds a primitive leaf with one
    slot per entry, null where def < max_def (default :func:`arrow_leaf`)."""
    d1 = d + (1 if nullable else 0)
    s0 = streams[0]
    rep0 = (s0["rep"] if s0["rep"] is not None
            else np.zeros(len(s0["def"]), np.int64))

    if pa.types.is_list(t) or pa.types.is_map(t):
        dfn0 = s0["def"]
        starts = np.flatnonzero(rep0 <= r)
        n_items = len(starts)
        first_def = dfn0[starts] if n_items else np.zeros(0, np.int64)
        validity = first_def >= d1
        thresh = d1 + 1  # element occurrence level
        em = ((rep0 <= r + 1) & (dfn0 >= thresh)).astype(np.int64)
        counts = (np.add.reduceat(em, starts) if n_items
                  else np.zeros(0, np.int64))
        # reduceat quirk: a start at the last index reduces a single slot —
        # correct here since spans are [start_i, start_{i+1})
        offsets = np.zeros(n_items + 1, np.int32)
        np.cumsum(counts, out=offsets[1:])

        def filt(s):
            keep = s["def"] >= thresh
            return {
                "vals": s["vals"],
                "rep": s["rep"][keep] if s["rep"] is not None else None,
                "def": s["def"][keep],
            }

        sub = [filt(s) for s in streams]
        if pa.types.is_list(t):
            child = assemble(t.value_type, sub, leaf, t.value_field.nullable,
                             d1 + 1, r + 1)
        else:  # map: key (required leaf) + value subtree
            keys = assemble(t.key_type, sub[:1], leaf, False, d1 + 1, r + 1)
            items = assemble(t.item_type, sub[1:], leaf,
                             t.item_field.nullable, d1 + 1, r + 1)
            child = pa.StructArray.from_arrays(
                [keys, items], fields=[t.key_field, t.item_field])
        return pa.Array.from_buffers(
            t, n_items,
            [validity_buf(validity), pa.py_buffer(offsets.tobytes())],
            children=[child])

    if pa.types.is_struct(t):
        dfn0 = s0["def"]
        starts = np.flatnonzero(rep0 <= r)
        n_items = len(starts)
        first_def = dfn0[starts] if n_items else np.zeros(0, np.int64)
        validity = first_def >= d1
        children = []
        li = 0
        for f in t:
            nl = len(leaf_types(f.type))
            children.append(assemble(f.type, streams[li : li + nl], leaf,
                                     f.nullable, d1, r))
            li += nl
        return pa.Array.from_buffers(
            t, n_items, [validity_buf(validity)], children=children)

    if pa.types.is_nested(t):
        raise NotImplementedError(f"assembly of {t}")
    # primitive leaf: every entry is an item; present iff def == d1
    return leaf(s0["vals"], s0["def"], d1, t)
