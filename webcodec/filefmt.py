"""webcodec file format: pages + column chunks + JSON footer.

Layout (reference parity SURVEY.md §2.C — ParquetFileWriter / PageHeader /
FileMetaData analogues; Parquet-compatible page-header *field set* per
SURVEY.md §7.0 design decision):

    magic "WCD1"
    [per column: optional dict page, data pages...]   (any order; offsets in footer)
    footer-json (utf8)
    u32 footer_len | u32 footer_crc | magic "WCD1"

Page on disk:  32-byte fixed header | compressed payload
Header fields: page_type u8 | encoding u8 | codec u8 | phys_type u8 |
               n_values u32 | n_nulls u32 | uncompressed_size u32 |
               compressed_size u32 | crc u32 | first_row u64
(the PageHeader field set from format-structures: type, sizes, crc, counts,
encoding — C5 parity).

Page payload (uncompressed):
    u32 validity_len | [validity RLE-hybrid bytes if n_nulls>0] | value bytes

Nested and decimal columns are stored as Dremel leaves (webcodec.dremel):
one footer entry per column (its Arrow type and leaf names, no pages), then
one chunk per leaf, ``<col>\x1f<dotted leaf path>``. A leaf page puts the
leaf's levels where a flat page puts its validity — rep (leaves under a
list) then def, each bit-packed at the bit length of its max level — and
stores the valid values only; its header counts entries, its footer meta
adds the top-level ``n_rows``. All leaves of a column cut pages at the same
top-level rows.
"""

from __future__ import annotations

import base64
import io
import json
import os
import struct
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from webcodec import colcodec, dremel, selector
from webcodec.config import DEFAULT_CONFIG, EncoderConfig
from webcodec.kernels import alp, bloom, dictionary, fsst, rle
from webcodec.stats import page_stats, raw_byte_size, sample_stats
from webcodec.types import (
    CODEC_NAMES,
    IS_VARLEN,
    Codec,
    Encoding,
    PhysType,
    arrow_type_from_json,
    arrow_type_json,
    phys_type_of,
    restore_array,
    widen_array,
    widened,
)

MAGIC = b"WCD1"
PAGE_HEADER = struct.Struct("<BBBBIIIIIQ")
PAGE_DATA, PAGE_DICT = 0, 1


_CODECS: dict = {}


def compress(data: bytes, codec: Codec, level: int | None = None) -> bytes:
    if codec == Codec.NONE:
        return data
    # level semantics per codec: zstd/brotli take any, gzip caps at 9,
    # snappy/lz4 take none — clamp/drop instead of crashing when a profile's
    # level override (e.g. archive's binary_compression_level=11) meets a
    # codec that rejects it
    if level is not None:
        if codec == Codec.GZIP:
            level = min(max(level, 1), 9)
        elif codec in (Codec.SNAPPY, Codec.LZ4):
            level = None
    if codec == Codec.GZIP:
        return zlib.compress(data, level if level is not None else 6)
    key = (codec, level)
    c = _CODECS.get(key)
    if c is None:
        # pa.compress() has no level knob — pa.Codec carries it (None =
        # the codec's own default, matching the reference writer)
        c = _CODECS[key] = pa.Codec(
            codec.name.lower(), compression_level=level
        )
    return c.compress(data, asbytes=True)


def decompress(data: bytes | memoryview, codec: Codec, out_size: int) -> bytes:
    if codec == Codec.NONE:
        return bytes(data)
    if codec == Codec.GZIP:
        return zlib.decompress(bytes(data))
    return pa.decompress(bytes(data), decompressed_size=out_size, codec=codec.name.lower(), asbytes=True)


class _PageOut:
    __slots__ = ("header", "payload", "meta")

    def __init__(self, header: bytes, payload: bytes, meta: dict):
        self.header, self.payload, self.meta = header, payload, meta


def _build_page(
    page_type: int,
    encoding: Encoding,
    codec: Codec,
    phys: PhysType,
    n_values: int,
    n_nulls: int,
    validity: bytes,
    values: bytes,
    first_row: int,
    stats: dict | None,
    check_crc: bool,
    level: int | None,
    crypto=None,
    aad_base: bytes = b"",
) -> _PageOut:
    # single-allocation assembly: `+` chains copy the multi-MB values
    # segment once per operand on the hot path
    body = b"".join((struct.pack("<I", len(validity)), validity, values))
    comp = compress(body, codec, level)
    if len(comp) >= len(body) and codec != Codec.NONE:
        comp, codec = body, Codec.NONE  # incompressible page: store raw
    if crypto is not None:
        # C12 modular encryption: nonce||ct||tag stored as the page payload;
        # CRC covers the ciphertext (corruption caught before decryption);
        # the AAD binds every plaintext header field (see crypto._page_aad)
        comp = crypto.encrypt_page(
            aad_base, page_type, first_row, n_values, comp,
            encoding=int(encoding), codec=int(codec), n_nulls=n_nulls,
            usize=len(body),
        )
    crc = zlib.crc32(comp) if check_crc else 0
    header = PAGE_HEADER.pack(
        page_type, int(encoding), int(codec), int(phys),
        n_values, n_nulls, len(body), len(comp), crc, first_row,
    )
    meta = {
        "n_values": n_values,
        "n_nulls": n_nulls,
        "first_row": first_row,
        "uncompressed_size": len(body),
        "compressed_size": len(comp),
    }
    if stats:
        meta.update(stats)
    return _PageOut(header, comp, meta)


def _fsst_trial(arr: pa.Array, codec: Codec, level: int | None, sample_bytes: int):
    """BtrBlocks-style sample trial: FSST only wins if the FINAL bytes (after
    the page codec) shrink >=10%. E.g. natural text: fsst+zstd ~4x smaller
    than zstd alone; short urls: fsst+zstd is a net LOSS vs zstd. Tries
    symbol-length variants (8 and 6) and returns the winning table — shorter
    symbols often produce a more codec-friendly code stream — or None when
    FSST is not worth it for this chunk."""
    # trial payload is 16x the table-build sample (default 256KB/16KB): at
    # smaller trial sizes the ranking between symbol-length variants flips
    # vs full-page scale (table overhead dominates); both scale with the
    # config's fsst_sample_bytes knob
    payload = colcodec.sample_payload(arr, 4096, sample_bytes * 16)
    if len(payload) < 1024:
        return None
    base_table = fsst.build_table(payload[:sample_bytes])
    if not base_table.symbols:
        return None
    best, best_size = None, 0.9 * len(compress(payload, codec, level))
    for cap in (8, 6):
        table = base_table if cap == 8 else fsst.cap_symbols(base_table, cap)
        enc = fsst.encode(payload, table)
        size = len(compress(enc, codec, level)) + len(table.serialize())
        if size < best_size:
            best, best_size = table, size
    return best


def _page_ranges(n: int, avg_bytes: float, config: EncoderConfig) -> list[tuple[int, int]]:
    """Cut rows into pages by row limit and uncompressed byte target (B4 parity
    — sizes are known up front from Arrow buffers, no adaptive estimate needed)."""
    if n == 0:
        return [(0, 0)]
    by_bytes = max(int(config.data_page_size / max(avg_bytes, 1e-9)), 1)
    step = max(min(config.page_row_count_limit, by_bytes), 256)
    # the 256-row floor must yield for huge values (multi-MB media blobs):
    # a page body past u32 would overflow the header size fields — cap the
    # page at ~1 GB uncompressed
    if step * avg_bytes > (1 << 30):
        step = max(int((1 << 30) / max(avg_bytes, 1.0)), 1)
    return [(s, min(s + step, n)) for s in range(0, n, step)]


def _validity_of(arr: pa.Array) -> tuple[np.ndarray | None, int]:
    n_nulls = arr.null_count
    if n_nulls == 0:
        return None, 0
    mask = pc.is_valid(arr).to_numpy(zero_copy_only=False).astype(bool)
    return mask, int(n_nulls)


def _encode_chunk(
    name: str,
    arr: pa.Array,
    config: EncoderConfig,
    out: io.BufferedIOBase,
    offset0: int,
    leaf_pages: list[tuple] | None = None,
    fixed: bool = False,
) -> tuple[dict, int]:
    """Encode one column chunk; writes pages; returns (chunk_meta, new_offset).

    With ``leaf_pages`` (a :func:`_leaf_pages` plan) the chunk is a Dremel
    leaf: ``arr`` holds its valid values and each page its levels in place
    of validity; no bloom, no page stats. A ``fixed`` leaf skips sampled
    selection for :func:`colcodec.child_fallback`."""
    orig_t = arr.type
    if isinstance(arr, pa.ChunkedArray) and arr.num_chunks == 1:
        arr = arr.chunk(0)  # zero-copy unwrap
    if isinstance(arr, pa.ChunkedArray):
        try:
            arr = arr.combine_chunks()
        except pa.ArrowInvalid:
            # >2GB varlen column: 32-bit offsets overflow on combine —
            # process at 64-bit offsets; the footer keeps the ORIGINAL type
            # (phys BINARY/STRING covers both widths)
            if pa.types.is_binary(orig_t):
                arr = arr.cast(pa.large_binary()).combine_chunks()
            elif pa.types.is_string(orig_t):
                arr = arr.cast(pa.large_string()).combine_chunks()
            else:
                raise
    phys = phys_type_of(arr.type)
    # narrow types (int8/16, uint8/16/32, float16) store WIDENED — the
    # parquet INT_8-over-INT32 stance; the footer keeps the original type
    # and decode casts back (types.widened). orig_t predates any >2GB
    # large_* widening above for the same reason.
    orig_json = arrow_type_json(orig_t)
    _w = widened(arr.type)
    if _w is not None:
        arr = widen_array(arr, _w)
    codec = CODEC_NAMES[config.compression_for(name).lower()]
    level = config.compression_level
    if phys == PhysType.BINARY and config.binary_compression_level is not None:
        level = config.binary_compression_level
    fcrypto = config.file_crypto()
    aad_base = (
        fcrypto.aad_base(name, config.encryption_group_ordinal) if fcrypto else b""
    )
    n = len(arr)
    raw = raw_byte_size(arr)
    fb = selector.fallback_encoding(phys)
    if fixed:
        encoding = fb = colcodec.child_fallback(phys)
    else:
        stats = sample_stats(arr, phys, config.selector_sample_values)
        encoding = selector.choose(name, phys, stats, config)
    trial_fsst_table = None
    if encoding == Encoding.FSST and config.encoding_for(name) == "auto":
        trial_fsst_table = _fsst_trial(
            arr.drop_null(), codec, level, config.fsst_sample_bytes
        )
        if trial_fsst_table is None:
            encoding = fb
    offset = offset0
    chunk: dict = {
        "name": name,
        "type": orig_json,
        "phys": int(phys),
        "codec": int(codec),
        "raw_bytes": int(raw),
        "pages": [],
        "dict": None,
    }
    if not fixed and stats.read:
        # the statistics the choice read, before the bloom gate reads more
        chunk["select"] = dict(stats.read)

    flat = leaf_pages is None
    # per page: (values start, end, first row, rows, entries, levels)
    pages = leaf_pages if not flat else [
        (s, e, s, e - s, e - s, None)
        for s, e in _page_ranges(n, raw / max(n, 1), config)]

    dict_values = None
    indices = None
    dp: _PageOut | None = None
    if encoding == Encoding.DICT:
        valid = arr.drop_null()
        dict_values, idx_valid = dictionary.build(valid)
        dict_raw = raw_byte_size(dict_values)
        if dict_raw > config.dictionary_pagesize_limit or len(dict_values) > 2**31 - 2:
            encoding = fb  # reference: shouldFallBack() on dict size (A7)
        else:
            # scatter indices back to full-length (null slots get 0; masked out)
            mask, _ = _validity_of(arr)
            if mask is None:
                indices = idx_valid
            else:
                indices = np.zeros(n, dtype=np.int64)
                indices[mask] = idx_valid
            dict_payload, dict_inner = colcodec.encode_dict_page(
                dict_values, phys, config.use_fsst, config.fsst_sample_bytes
            )
            dp = _build_page(
                PAGE_DICT, dict_inner, codec, phys, len(dict_values), 0, b"",
                dict_payload, 0, None, config.write_page_checksum, level,
                fcrypto, aad_base,
            )
            chunk["dict"] = {
                "n": len(dict_values),
                "inner_encoding": int(dict_inner),
                **{k: dp.meta[k] for k in ("uncompressed_size", "compressed_size")},
            }

    # split-block bloom for short varlen columns (C8; bloom-level pruning D2).
    # Runs AFTER the dictionary build: the bloom depends only on the value
    # SET, so when a dictionary exists we hash |dict| distinct values instead
    # of all n rows — O(ndv) vs O(rows), and dict columns are exactly the
    # ones where ndv << rows. (Correct even if the A7 guard later falls the
    # chunk back from DICT: the distinct set is encoding-independent.)
    if (
        config.bloom_filter_enabled
        and flat
        and phys in IS_VARLEN
        and n > 0
        and stats.avg_len <= config.bloom_filter_max_avg_len
    ):
        bsrc = dict_values if dict_values is not None else (
            arr.drop_null() if arr.null_count else arr
        )
        offs, data_mv = colcodec.varlen_parts(bsrc)
        raw_np = np.frombuffer(data_mv, dtype=np.uint8, count=int(offs[-1])) if len(offs) > 1 else np.zeros(0, np.uint8)
        hashes = np.unique(bloom.hash_values(offs, raw_np)) if len(offs) > 1 else np.zeros(0, np.uint64)
        fb_bytes = bloom.build(hashes, config.bloom_filter_fpp, config.bloom_filter_max_bytes)
        chunk["bloom"] = {"ndv": int(len(hashes)), "b64": base64.b64encode(fb_bytes).decode()}

    encoded_total = 0
    tried_fallback = encoding == fb
    fsst_table = trial_fsst_table  # one symbol table per chunk, shared by all pages
    alp_hint = None  # one (mode, e, f) plan per chunk, shared by all pages
    pages_out: list[_PageOut] = []
    i = 0
    while i < len(pages):
        s, e, first_row, n_rows, n_entries, levels = pages[i]
        sl = arr.slice(s, e - s)
        if flat:
            mask, n_nulls = _validity_of(sl)
            validity = rle.encode_validity(mask) if mask is not None else b""
        else:
            mask, n_nulls, validity = None, n_entries - (e - s), levels
        if encoding == Encoding.DICT:
            page_idx = indices[s:e]
            if mask is not None:
                page_idx = page_idx[mask]  # only non-null slots are stored
            values = colcodec.encode_dict_indices(page_idx, len(dict_values))
        else:
            nonnull = sl.drop_null() if mask is not None else sl
            if encoding == Encoding.FSST and fsst_table is None:
                fsst_table = fsst.build_table(
                    colcodec.sample_payload(nonnull, 2048, config.fsst_sample_bytes)
                )
            if encoding == Encoding.ALP and alp_hint is None:
                whole = arr.drop_null() if arr.null_count else arr
                alp_hint = alp.plan(colcodec.fixed_values(whole, phys))
            values = colcodec.encode_values(
                nonnull, phys, encoding, config.fsst_sample_bytes, fsst_table,
                alp_hint,
            )
        # A7 guard on the FIRST page: encoded (+dict) must beat raw, else fall back
        if i == 0 and not tried_fallback:
            page_raw = raw_byte_size(sl) + (0 if flat else len(levels))
            dict_sz = chunk["dict"]["uncompressed_size"] if chunk["dict"] else 0
            if not selector.is_compression_satisfying(page_raw + 1, len(values) + len(validity), dict_sz):
                encoding = fb
                tried_fallback = True
                chunk["dict"] = None
                dict_values = None
                continue  # re-encode page 0 with the fallback
        st = page_stats(sl, phys, config.statistics_truncate_length,
                        unsigned64=orig_t.equals(pa.uint64())) if (
                            flat and config.statistics_enabled) else None
        p = _build_page(
            PAGE_DATA, encoding, codec, phys, n_entries, n_nulls, validity,
            values, first_row, st, config.write_page_checksum, level, fcrypto,
            aad_base,
        )
        if not flat:
            p.meta["n_rows"] = n_rows
        pages_out.append(p)
        encoded_total += len(values) + len(validity)
        i += 1

    if encoding == Encoding.DICT and dp is not None and chunk["dict"] is not None:
        out.write(dp.header)
        out.write(dp.payload)
        chunk["dict"]["offset"] = offset
        chunk["dict"]["size"] = PAGE_HEADER.size + len(dp.payload)
        offset += chunk["dict"]["size"]
    for p in pages_out:
        out.write(p.header)
        out.write(p.payload)
        p.meta["offset"] = offset
        p.meta["size"] = PAGE_HEADER.size + len(p.payload)
        offset += p.meta["size"]
        chunk["pages"].append(p.meta)

    chunk["encoding"] = int(encoding)
    chunk["encoded_bytes"] = int(encoded_total)
    chunk["compressed_bytes"] = int(
        sum(p["size"] for p in chunk["pages"])
        + (chunk["dict"]["size"] if chunk["dict"] else 0)
    )
    # chunk-level stats roll-up
    mins = [p["min"] for p in chunk["pages"] if p.get("min") is not None]
    maxs = [p["max"] for p in chunk["pages"] if p.get("max") is not None]
    chunk["stats"] = {
        "min": min(mins) if mins else None,
        "max": max(maxs) if maxs else None,
        # roll up from n_nulls (ALWAYS present in page meta) — the stats
        # field is absent when statistics_enabled=False, and a fabricated
        # null_count=0 would make isnull file-pruning drop matching rows
        "null_count": int(sum(p.get("n_nulls", 0) for p in chunk["pages"])),
    }
    return chunk, offset


_LEAF_SEP = "\x1f"  # "<col>\x1f<dotted leaf path>" names a Dremel leaf chunk
_PHYS_CODES = set(PhysType)


def _is_dremel(arr: pa.Array) -> bool:
    """Nested and decimal columns store as Dremel leaves, except the
    LIST_FLOAT32 fast path: list<float32> (or a variant), no null elements."""
    t = arr.type
    return pa.types.is_decimal(t) or pa.types.is_nested(t) and not (
        (widened(t) or t).equals(pa.list_(pa.float32()))
        and pc.list_flatten(arr).null_count == 0)


def _leaf_pages(lf: dict, cuts: np.ndarray) -> list[tuple]:
    """:func:`_encode_chunk` page plan of a ``dremel.shred`` leaf, cut at the
    column's top-level row boundaries ``cuts`` (a row starts at a rep-0 entry)."""
    defs, rep = lf["defs"], lf["rep"]
    starts = np.flatnonzero(rep == 0) if rep is not None else np.arange(len(defs))
    ent = np.append(starts, len(defs))[cuts]
    val = np.concatenate(([0], np.cumsum(defs == lf["max_def"])))[ent]
    pages = []
    for i in range(len(cuts) - 1):
        es, ee = int(ent[i]), int(ent[i + 1])
        levels = dremel.pack_levels(rep[es:ee] if rep is not None else None,
                                    defs[es:ee], lf["max_rep"], lf["max_def"])
        pages.append((int(val[i]), int(val[i + 1]), int(cuts[i]),
                      int(cuts[i + 1] - cuts[i]), ee - es, levels))
    return pages


def _decimal_lanes(values: pa.Array) -> list[pa.Array]:
    """The little-endian int64 lanes of a decimal128/256 array (2 or 4):
    the low lane IS the value for |v| < 2^63 and FOR+delta eats it; the
    others are then pure sign extension and collapse under RLE/dictionary."""
    k = values.type.byte_width // 8
    m = np.frombuffer(values.buffers()[1], "<i8", count=k * (values.offset + len(values)))
    m = m[k * values.offset:].reshape(-1, k)
    return [pa.array(np.ascontiguousarray(m[:, j])) for j in range(k)]


def _encode_dremel(
    name: str, arr: pa.ChunkedArray, config: EncoderConfig, out: io.BufferedIOBase, offset: int
) -> tuple[list[dict], int]:
    """Encode a nested or decimal column as Dremel leaves (module docstring).
    A decimal leaf's value codec is its int64 lanes: lane 0 in the leaf
    chunk, lanes 1.. in ``#1``.. chunks with the same pages. A leaf under no
    list gets sampled selection, one under a list the fixed child encoding."""
    arr = arr.chunk(0) if arr.num_chunks == 1 else arr.combine_chunks()
    t_out = dremel.plain_lists(arr.type, nested_only=True)
    t = dremel.plain_lists(arr.type)
    leaves = dremel.shred(name, arr.cast(t) if t != arr.type else arr,
                          all_optional=False)
    names = [f"{name}{_LEAF_SEP}{'.'.join(lf['path'])}" for lf in leaves]
    if len(set(names)) != len(names):
        raise TypeError(f"column {name!r} has duplicate field names (leaf paths "
                        f"{names}); rename the fields before encoding")
    n = len(arr)
    raw = raw_byte_size(arr)
    cuts = np.array([s for s, _ in _page_ranges(n, raw / max(n, 1), config)] + [n])
    schema = pa.schema([pa.field(name, t_out)]).serialize()
    chunks = [{
        "name": name, "type": arrow_type_json(t_out),
        "dremel": {"schema": base64.b64encode(schema).decode(), "leaves": names},
        "raw_bytes": int(raw), "encoded_bytes": 0, "compressed_bytes": 0,
        "encoding": None, "pages": [], "dict": None,
        "stats": {"min": None, "max": None, "null_count": int(arr.null_count)},
    }]
    for lname, lf in zip(names, leaves):
        pages = _leaf_pages(lf, cuts)
        lanes = (_decimal_lanes(lf["leaf"]) if pa.types.is_decimal(lf["type"])
                 else [lf["leaf"]])
        for j, lane in enumerate(lanes):
            c, offset = _encode_chunk(
                f"{lname}#{j}" if j else lname, lane, config, out, offset,
                pages if j == 0 else [p[:4] + (p[1] - p[0], b"") for p in pages],
                fixed=lf["max_rep"] > 0,
            )
            c["raw_bytes"] = 0  # raw accounted on the column entry
            if j == 0:
                c["levels"] = [lf["max_rep"], lf["max_def"]]
            chunks.append(c)
    return chunks, offset


def _column_chunk(group: dict, name: str) -> dict:
    """The footer entry of column ``name``; ``ValueError`` when the file
    lacks it or keeps a retired layout: an unknown phys code, or a BOOL
    entry with child chunks (the shape-specific nested layouts' parent)."""
    chunk = next((c for c in group["chunks"] if c["name"] == name), None)
    if chunk is None:
        raise ValueError(f"column {name!r} is not in the file")
    if "dremel" not in chunk and (chunk["phys"] not in _PHYS_CODES or (
            chunk["phys"] == PhysType.BOOL and any(
                c["name"].startswith(name + _LEAF_SEP) for c in group["chunks"]))):
        raise ValueError(f"column {name!r} is stored in a retired nested "
                         "layout; re-encode the file")
    return chunk


def _column_type(chunk: dict) -> pa.DataType:
    if "dremel" in chunk:
        schema = base64.b64decode(chunk["dremel"]["schema"])
        return pa.ipc.read_schema(pa.py_buffer(schema)).field(0).type
    return arrow_type_from_json(chunk["type"])


def _read_leaf(buf: memoryview, group: dict, chunk: dict, t: pa.DataType,
               kept: list[int], verify_crc: bool) -> dict:
    """A leaf's entry stream over its ``kept`` pages (at least one), for
    ``dremel.assemble``; levels that disagree with their page raise ``ValueError``."""
    max_rep, max_def = chunk["levels"]
    reps, defs = [], []

    def values(c, check_levels):
        parts = []
        for pm, arr, n, n_nulls, levels in _data_pages(buf, c, verify_crc, kept):
            parts.append(arr)
            if not check_levels:
                continue
            rep, dfn = dremel.unpack_levels(levels, n, max_rep, max_def)
            rows = n if rep is None else int(np.count_nonzero(rep == 0))
            if (n != pm["n_values"] or rows != pm["n_rows"]
                    or np.count_nonzero(dfn == max_def) != n - n_nulls):
                raise ValueError(f"leaf {c['name']!r} page at offset "
                                 f"{pm['offset']}: levels do not match the page")
            reps.append(rep)
            defs.append(dfn)
        return pa.concat_arrays(parts) if len(parts) > 1 else parts[0]

    vals = values(chunk, True)
    if pa.types.is_decimal(t):
        lanes = [vals] + [values(_column_chunk(group, f"{chunk['name']}#{j}"), False)
                          for j in range(1, t.byte_width // 8)]
        vals = np.stack([lane.to_numpy(zero_copy_only=False) for lane in lanes], axis=1)
    return {"vals": vals, "def": np.concatenate(defs),
            "rep": np.concatenate(reps) if max_rep else None}


def _row_spans(group: dict, chunk: dict) -> list[tuple[int, int]]:
    """Group-relative [first, end) rows of each page of a column."""
    if "dremel" in chunk:
        pages = _column_chunk(group, chunk["dremel"]["leaves"][0])["pages"]
        return [(pm["first_row"], pm["first_row"] + pm["n_rows"]) for pm in pages]
    return [(pm["first_row"], pm["first_row"] + pm["n_values"]) for pm in chunk["pages"]]


def _filter_rows(arr: pa.Array, keep: np.ndarray) -> pa.Array:
    """``arr`` without the rows the boolean mask ``keep`` drops, passed as a
    packed bitmap (``pa.array`` of a numpy mask costs more than the filter)."""
    if keep.all():
        return arr
    bits = pa.py_buffer(np.packbits(keep, bitorder="little"))
    return arr.filter(pa.Array.from_buffers(pa.bool_(), len(keep), [None, bits]))


def _decode_dremel(
    buf: memoryview, group: dict, col: dict, verify_crc: bool, keep: np.ndarray | None
) -> pa.Array:
    """Read a column written by :func:`_encode_dremel`: decode only the pages
    holding a kept row, assemble them, then drop the rows ``keep`` excludes."""
    t_out = _column_type(col)
    t = dremel.plain_lists(t_out)
    types = dremel.leaf_types(t)
    leaves = [_column_chunk(group, nm) for nm in col["dremel"]["leaves"]]
    if len(leaves) != len(types):
        raise ValueError(f"column {col['name']!r}: {len(leaves)} leaf chunks "
                         f"for {len(types)} leaves")
    spans = _row_spans(group, col)
    kept = [i for i, (s, e) in enumerate(spans) if keep is None or keep[s:e].any()]
    if not kept:
        return pa.array([], t_out)
    arr = dremel.assemble(t, [_read_leaf(buf, group, c, lt, kept, verify_crc)
                              for c, lt in zip(leaves, types)])
    if len(arr) != sum(spans[i][1] - spans[i][0] for i in kept):
        raise ValueError(f"column {col['name']!r}: leaves disagree on row count")
    if keep is not None:
        arr = _filter_rows(arr, np.concatenate([keep[spans[i][0] : spans[i][1]] for i in kept]))
    return arr.cast(t_out) if t != t_out else arr


def _encode_group(
    table: pa.Table, config: EncoderConfig, out: io.BufferedIOBase, offset: int
) -> tuple[list[dict], int]:
    chunks: list[dict] = []
    for name in table.column_names:
        if _LEAF_SEP in name:
            # 0x1F namespaces Dremel leaf chunks in the footer; a column
            # carrying it would be filtered out on read (silent data loss)
            # or collide with another column's leaf chunk
            raise ValueError(
                f"column name {name!r} contains the reserved separator "
                "U+001F; rename the column"
            )
        col = table.column(name)
        if _is_dremel(col):
            cs, offset = _encode_dremel(name, col, config, out, offset)
        else:
            c, offset = _encode_chunk(name, col, config, out, offset)
            cs = [c]
        chunks.extend(cs)
    return chunks, offset


def _schema_of(schema: pa.Schema) -> list[dict]:
    return [
        {"name": f.name, "type": arrow_type_json(f.type), "nullable": f.nullable}
        for f in schema
    ]


def _write_footer(out: io.BufferedIOBase, footer: dict) -> None:
    fj = json.dumps(footer, separators=(",", ":")).encode()
    out.write(fj)
    out.write(struct.pack("<II", len(fj), zlib.crc32(fj)))
    out.write(MAGIC)


def write_table(
    table: pa.Table,
    where: str | io.BufferedIOBase,
    config: EncoderConfig | None = None,
    extra_metadata: dict | None = None,
) -> dict:
    """Encode an Arrow table into one webcodec file; returns the footer dict."""
    config = config or DEFAULT_CONFIG
    config = _stamp_file_crypto(config)
    own = isinstance(where, str)
    out: io.BufferedIOBase = open(where, "wb") if own else where  # type: ignore[assignment]
    try:
        out.write(MAGIC)
        t0 = time.perf_counter()
        chunks, _ = _encode_group(table, config, out, len(MAGIC))
        encode_secs = time.perf_counter() - t0
        footer = {
            "version": 1,
            "num_rows": table.num_rows,
            "schema": _schema_of(table.schema),
            "chunks": chunks,
            "raw_bytes": int(sum(c["raw_bytes"] for c in chunks)),
            "compressed_bytes": int(sum(c["compressed_bytes"] for c in chunks)),
            "encode_secs": encode_secs,
            "created_by": "webcodec-0.1",
            "metadata": extra_metadata or {},
        }
        _attach_encryption_footer(footer, config)
        _write_footer(out, _wrap_footer_for_disk(footer, config))
        return footer
    finally:
        if own:
            out.close()


def _stamp_file_crypto(config: EncoderConfig) -> EncoderConfig:
    """Give an encrypting config FRESH per-file material: the AAD prefix
    (pages must not be relocatable between files) and the HKDF dek salt
    (each file encrypts under its own derived key — see crypto.derive_dek)."""
    if config.encryption_key is None:
        return config
    from dataclasses import replace

    from webcodec.crypto import DEK_SALT_LEN

    return replace(config, encryption_aad_prefix=os.urandom(8),
                   encryption_dek_salt=os.urandom(DEK_SALT_LEN))


def _attach_encryption_footer(footer: dict, config: EncoderConfig) -> None:
    if config.encryption_key is None:
        return
    from webcodec import crypto as wcrypto

    if config.encryption_footer_mode not in (
            wcrypto.FOOTER_MODE_PLAINTEXT, wcrypto.FOOTER_MODE_ENCRYPTED):
        # a typo'd mode must not SILENTLY fall back to plaintext footers
        raise ValueError(
            f"encryption_footer_mode must be 'plaintext' or 'encrypted', "
            f"got {config.encryption_footer_mode!r}")

    footer["encryption"] = {
        "algorithm": wcrypto.ALGORITHM,
        "key_id": config.encryption_key_id,
        "aad_prefix": base64.b64encode(config.encryption_aad_prefix).decode(),
        "dek_salt": base64.b64encode(config.encryption_dek_salt).decode(),
        "footer_mode": config.encryption_footer_mode,
        "signature": "",
    }
    dek = wcrypto.derive_dek(
        bytes(config.encryption_key), bytes(config.encryption_dek_salt)
    )
    if config.encryption_footer_mode != wcrypto.FOOTER_MODE_ENCRYPTED:
        # plaintext-footer mode: integrity via GCM signature. Encrypted-
        # footer mode skips it — the whole-footer GCM blob authenticates.
        footer["encryption"]["signature"] = wcrypto.sign_footer(dek, footer)


def _wrap_footer_for_disk(footer: dict, config: EncoderConfig) -> dict:
    """Encrypted-footer mode (C12 parity with parquet's EF files): what hits
    disk is a tiny plaintext wrapper — algorithm, key_id, dek_salt — plus the
    GCM-encrypted footer JSON. A keyless reader learns nothing else (no
    schema, no chunk layout, no stats/blooms)."""
    from webcodec import crypto as wcrypto

    if (config.encryption_key is None
            or config.encryption_footer_mode != wcrypto.FOOTER_MODE_ENCRYPTED):
        return footer
    dek = wcrypto.derive_dek(
        bytes(config.encryption_key), bytes(config.encryption_dek_salt)
    )
    blob = wcrypto.encrypt_footer_blob(
        dek, json.dumps(footer, separators=(",", ":")).encode()
    )
    return {
        "version": 1,
        "encrypted_footer": {
            "algorithm": wcrypto.ALGORITHM,
            "key_id": config.encryption_key_id,
            "dek_salt": base64.b64encode(config.encryption_dek_salt).decode(),
            "footer": base64.b64encode(blob).decode(),
        },
    }


def _unwrap_footer(footer: dict, encryption_key: bytes | None) -> dict:
    """Inverse of :func:`_wrap_footer_for_disk`; plaintext footers pass
    through untouched."""
    enc = footer.get("encrypted_footer")
    if not enc:
        return footer
    if encryption_key is None:
        raise ValueError(
            f"file footer is encrypted (algorithm={enc.get('algorithm')!r}, "
            f"key_id={enc.get('key_id')!r}); pass encryption_key"
        )
    from webcodec import crypto as wcrypto

    alg = enc.get("algorithm")
    if alg != wcrypto.ALGORITHM and alg not in wcrypto._LEGACY_ALGORITHMS:
        raise ValueError(f"unsupported encryption algorithm {alg!r}")
    dek = wcrypto.derive_dek(
        bytes(encryption_key), base64.b64decode(enc["dek_salt"])
    )
    try:
        return json.loads(wcrypto.decrypt_footer_blob(
            dek, base64.b64decode(enc["footer"])
        ))
    except ValueError:
        if alg != wcrypto.ALGORITHM:
            raise ValueError(
                "footer decryption failed: wrong key or tampered footer"
                + wcrypto._LEGACY_HINT
            ) from None
        raise


def sort_indices_for_key(table: pa.Table, sort_key: str):
    """Row permutation for a ``sort_key`` spec, or None when no named column
    exists in ``table`` (same silent-skip stance as the historic single-key
    path — encode jobs share one key string across heterogeneous tables).

    Forms:
    - ``"col"`` — single-column ascending sort (historic behavior);
    - ``"a,b[,...]"`` — lexicographic multi-column sort;
    - ``"zorder(a,b[,c,d])"`` — Z-order/Morton clustering
      (:mod:`webcodec.kernels.zorder`): every listed column's page min/max
      stats stay narrow, so multi-dimension scans prune pages on each
      dimension instead of only the leading sort column.
    """
    spec = sort_key.strip()
    if spec.startswith("zorder(") and spec.endswith(")"):
        cols = [c.strip() for c in spec[len("zorder("):-1].split(",") if c.strip()]
        cols = [c for c in cols if c in table.column_names]
        if len(cols) >= 2:
            from webcodec.kernels.zorder import zorder_sort_indices

            return zorder_sort_indices(table, cols[:4])
        if cols:
            return pc.sort_indices(table, sort_keys=[(cols[0], "ascending")])
        return None
    keys = [c.strip() for c in spec.split(",") if c.strip() in table.column_names]
    if not keys:
        return None
    return pc.sort_indices(table, sort_keys=[(k, "ascending") for k in keys])


def write_batches(
    batches,
    where: str | io.BufferedIOBase,
    config: EncoderConfig | None = None,
    extra_metadata: dict | None = None,
    group_target_bytes: int = 128 << 20,
    sort_key: str | None = None,
) -> dict | None:
    """Bounded-memory writer: consume an ITERATOR of RecordBatches and cut a
    new row GROUP every ~group_target_bytes of raw Arrow bytes (C4 sizing
    applied inside one output file) — peak memory is one group, never the
    whole partition, so a skewed 10-GB Spark partition encodes in a 128-MB
    window. Single-group output is byte-identical to :func:`write_table`;
    multi-group output uses the same version-2 footer as append_files (the
    reader concatenates groups per column). ``sort_key`` sorts WITHIN each
    group (a globally-sorted partition comes from the upstream shuffle);
    it accepts a column, a comma list (lexicographic), or
    ``"zorder(a,b[,c,d])"`` — see :func:`sort_indices_for_key`.
    Returns the footer, or None when the iterator yields no rows (the caller
    decides whether an empty file makes sense)."""
    config = config or DEFAULT_CONFIG
    config = _stamp_file_crypto(config)
    own = isinstance(where, str)
    out: io.BufferedIOBase = open(where, "wb") if own else where  # type: ignore[assignment]
    try:
        out.write(MAGIC)
        offset = len(MAGIC)
        t0 = time.perf_counter()
        groups: list[dict] = []
        schema: pa.Schema | None = None
        acc: list[pa.RecordBatch] = []
        acc_bytes = 0

        def flush() -> None:
            nonlocal offset, acc, acc_bytes
            if not acc:
                return
            table = pa.Table.from_batches(acc)
            acc, acc_bytes = [], 0
            if sort_key:
                idx = sort_indices_for_key(table, sort_key)
                if idx is not None:
                    table = table.take(idx)
            gconfig = config
            if config.encryption_key is not None:
                from dataclasses import replace as _dc_replace

                # group ordinal feeds the AAD chain (pages of group N only
                # authenticate in slot N)
                gconfig = _dc_replace(config, encryption_group_ordinal=len(groups))
            chunks, offset = _encode_group(table, gconfig, out, offset)
            groups.append(
                {
                    "num_rows": table.num_rows,
                    "chunks": chunks,
                    "raw_bytes": int(sum(c["raw_bytes"] for c in chunks)),
                    "compressed_bytes": int(sum(c["compressed_bytes"] for c in chunks)),
                }
            )

        for b in batches:
            if schema is None:
                schema = b.schema
            if b.num_rows == 0:
                continue
            acc.append(b)
            acc_bytes += b.nbytes
            if acc_bytes >= group_target_bytes:
                flush()
        flush()
        if not groups:
            return None
        encode_secs = time.perf_counter() - t0
        common = {
            "num_rows": int(sum(g["num_rows"] for g in groups)),
            "schema": _schema_of(schema),
            "raw_bytes": int(sum(g["raw_bytes"] for g in groups)),
            "compressed_bytes": int(sum(g["compressed_bytes"] for g in groups)),
            "encode_secs": encode_secs,
            "created_by": "webcodec-0.1",
            "metadata": extra_metadata or {},
        }
        if len(groups) == 1:
            footer = {"version": 1, "chunks": groups[0]["chunks"], **common}
        else:
            footer = {"version": 2, "groups": groups, **common}
        _attach_encryption_footer(footer, config)
        _write_footer(out, _wrap_footer_for_disk(footer, config))
        return footer
    finally:
        if own:
            out.close()


# --------------------------- append / compaction ------------------------------


def read_footer_path(path: str, encryption_key: bytes | None = None) -> dict:
    """Footer of a file on disk WITHOUT reading the page bytes: read the
    12-byte trailer for the footer length, then just the footer slice."""
    with open(path, "rb") as f:
        f.seek(0, os.SEEK_END)
        size = f.tell()
        f.seek(max(size - 12, 0))
        tail = f.read(12)
        if len(tail) != 12 or tail[-4:] != MAGIC:
            raise ValueError(f"not a webcodec file: {path}")
        flen, fcrc = struct.unpack("<II", tail[:8])
        f.seek(size - 12 - flen)
        fj = f.read(flen)
    if zlib.crc32(fj) != fcrc:
        raise ValueError(f"footer crc mismatch: {path}")
    return _unwrap_footer(json.loads(fj), encryption_key)


def schema_signature(footer: dict) -> tuple:
    """Merge-compatibility key of a file: the sorted (chunk name, encodingless
    identity) set of its groups plus the logical schema (name, type) pairs.
    Two files merge byte-level only when these match — after schema evolution
    an old file LACKS the added column's chunks, and concatenating its groups
    with evolved groups silently null-fills / breaks projection (read_table
    takes chunk names from the footer column map, which assumes every group
    carries every chunk)."""
    groups = footer.get("groups") or [footer]
    chunk_names = frozenset(c["name"] for g in groups for c in g["chunks"])
    schema = tuple(sorted((f["name"], json.dumps(f["type"], sort_keys=True))
                          for f in footer["schema"]))
    return (chunk_names, schema)


def schema_signature_str(footer: dict) -> str:
    """Canonical string form of :func:`schema_signature` — stored in manifest
    entries at write time so compaction plans bin-packs from METADATA alone
    (a million driver-side footer reads just to group same-schema files
    defeats the sharded-manifest scaling work)."""
    names, schema = schema_signature(footer)
    return json.dumps([sorted(names), schema], sort_keys=True)


def append_files(dst: str, sources: list[str]) -> dict:
    """Byte-level merge WITHOUT decode (reference parity: C10,
    ParquetFileWriter.appendFile / appendRowGroups): page bytes of each source
    are copied verbatim; the merged footer carries one group per source with
    page offsets shifted. Decode concatenates groups per column.

    All sources must share one schema signature (chunk-name set + logical
    schema): merging a pre-evolution file with an evolved one would silently
    drop/null the added column on read — callers must re-encode instead.
    Encrypted files never byte-merge (each file's pages authenticate against
    its own random AAD prefix) — rewrite with the key instead. Every source
    is checked before anything is written, from one footer parse per source
    that also drives the offset shift."""
    footers = []
    for src in sources:
        try:
            footer = read_footer_path(src)
        except ValueError as e:
            if "footer is encrypted" not in str(e):
                raise
            footer = {"encryption": True}  # encrypted-footer mode: same rule
        if footer.get("encryption"):
            raise ValueError(
                "append_files: encrypted files cannot byte-merge (per-file "
                "AAD prefixes); use rewrite_encoded with the encryption key"
            )
        footers.append(footer)
    sig0 = schema_signature(footers[0])
    for src, footer in zip(sources[1:], footers[1:]):
        if schema_signature(footer) != sig0:
            raise ValueError(
                "append_files: schema signature mismatch between "
                f"{sources[0]} and {src} (schema evolution?) — byte-level "
                "merge would lose data; rewrite/transcode these files instead"
            )
    groups = []
    with open(dst, "wb") as out:
        out.write(MAGIC)
        offset = len(MAGIC)
        for src, footer in zip(sources, footers):
            with open(src, "rb") as f:
                data = f.read()
            if data[:len(MAGIC)] != MAGIC:
                raise ValueError(f"not a webcodec file: {src}")
            flen = struct.unpack("<I", data[-12:-8])[0]
            body_start, body_end = len(MAGIC), len(data) - 12 - flen
            out.write(data[body_start:body_end])
            delta = offset - body_start
            for g in footer.get("groups") or [footer]:
                for c in g["chunks"]:  # each footer is this call's own parse
                    if c.get("dict"):
                        c["dict"]["offset"] += delta
                    for p in c["pages"]:
                        p["offset"] += delta
                groups.append(
                    {
                        "num_rows": g["num_rows"],
                        "chunks": g["chunks"],
                        "raw_bytes": g["raw_bytes"],
                        "compressed_bytes": g["compressed_bytes"],
                    }
                )
            offset += body_end - body_start
        footer = {
            "version": 2,
            "num_rows": int(sum(g["num_rows"] for g in groups)),
            "schema": footers[0]["schema"],
            "groups": groups,
            "raw_bytes": int(sum(g["raw_bytes"] for g in groups)),
            "compressed_bytes": int(sum(g["compressed_bytes"] for g in groups)),
            "created_by": "webcodec-0.1",
            "metadata": {"compacted_from": len(sources)},
        }
        _write_footer(out, footer)
    return footer


# ------------------------------ read path ------------------------------------


def read_footer(data: bytes | memoryview,
                encryption_key: bytes | None = None) -> dict:
    buf = memoryview(data)
    if bytes(buf[:4]) != MAGIC or bytes(buf[-4:]) != MAGIC:
        raise ValueError("not a webcodec file")
    flen, fcrc = struct.unpack("<II", buf[-12:-4])
    fj = bytes(buf[-12 - flen : -12])
    if zlib.crc32(fj) != fcrc:
        raise ValueError("footer crc mismatch")
    return _unwrap_footer(json.loads(fj), encryption_key)


def _read_page(buf: memoryview, offset: int, verify_crc: bool = True,
               crypto=None, aad_base: bytes = b""):
    if offset + PAGE_HEADER.size > len(buf):
        raise ValueError(f"page header at offset {offset} is past the file end")
    h = PAGE_HEADER.unpack(buf[offset : offset + PAGE_HEADER.size])
    (ptype, enc, codec, phys, n_values, n_nulls, usize, csize, crc, first_row) = h
    payload = buf[offset + PAGE_HEADER.size : offset + PAGE_HEADER.size + csize]
    if verify_crc and crc and zlib.crc32(payload) != crc:
        raise ValueError(f"page crc mismatch at offset {offset}")
    if crypto is not None:
        # AAD binds ALL of the header's plaintext fields: a page relocated to
        # another file/chunk/slot or a doctored header (encoding/codec flip,
        # size or null-count forgery) fails authentication here
        payload = memoryview(
            crypto.decrypt_page(aad_base, ptype, first_row, n_values, payload,
                                encoding=enc, codec=codec, n_nulls=n_nulls,
                                usize=usize)
        )
    try:
        body = decompress(payload, Codec(codec), usize)
    except (OSError, zlib.error) as e:  # a cut or damaged compressed page
        raise ValueError(f"page at offset {offset}: {e}") from None
    if len(body) != usize or usize < 4:
        raise ValueError(
            f"page at offset {offset}: body is {len(body)} bytes, header says {usize}")
    (vlen,) = struct.unpack("<I", body[:4])
    if vlen > usize - 4:
        raise ValueError(f"page at offset {offset}: validity overruns the page")
    validity = body[4 : 4 + vlen]
    values = memoryview(body)[4 + vlen :]
    return ptype, Encoding(enc), PhysType(phys), n_values, n_nulls, validity, values, first_row


def _chunk_crypto(chunk: dict):
    """(crypto, aad_base) of a chunk — :func:`_open` injects the per-read
    context as ``_crypto`` (+ ``_crypto_group`` ordinal) into every footer
    chunk dict (plaintext files carry none)."""
    fc = chunk.get("_crypto")
    if fc is None:
        return None, b""
    return fc, fc.aad_base(chunk["name"], chunk.get("_crypto_group", 0))


def _decode_dict_page_only(buf: memoryview, chunk: dict, verify_crc: bool = True) -> pa.Array:
    """Decode a chunk's dictionary page once per read: the dictionary tier
    and the data pages share the values kept on the per-read chunk dict."""
    if "_dict_values" not in chunk:
        fc, ab = _chunk_crypto(chunk)
        _, inner, _, dn, _, _, dvals, _ = _read_page(
            buf, chunk["dict"]["offset"], verify_crc, fc, ab)
        t = arrow_type_from_json(chunk["type"])
        chunk["_dict_values"] = colcodec.decode_dict_page(
            dvals, PhysType(chunk["phys"]), inner, dn, widened(t) or t)
    return chunk["_dict_values"]


def _data_pages(buf: memoryview, chunk: dict, verify_crc: bool, page_ids: list[int]):
    """Decode the listed data pages of a chunk. Yields (page meta, null-free
    values at the storage type, n_values, n_nulls, validity or levels)."""
    arrow_type = arrow_type_from_json(chunk["type"])
    work_type = widened(arrow_type) or arrow_type
    phys = PhysType(chunk["phys"])
    fc, ab = _chunk_crypto(chunk)
    dict_values = (_decode_dict_page_only(buf, chunk, verify_crc)
                   if chunk.get("dict") and page_ids else None)
    for i in page_ids:
        pm = chunk["pages"][i]
        _, enc, _, n_values, n_nulls, validity, values, _ = _read_page(
            buf, pm["offset"], verify_crc, fc, ab)
        n_valid = n_values - n_nulls
        if enc == Encoding.DICT:
            idx = colcodec.decode_dict_indices(values, n_valid)
            arr = dictionary.take(dict_values, idx)
            if arr.type != work_type:
                arr = arr.cast(work_type)
        else:
            arr = colcodec.decode_values(values, phys, enc, n_valid, work_type)
        yield pm, arr, n_values, n_nulls, validity


def _decode_chunk(
    buf: memoryview, chunk: dict, verify_crc: bool = True, keep: np.ndarray | None = None
) -> pa.Array:
    """Decode a flat column chunk. With ``keep`` (group-relative boolean row
    mask), pages with no surviving rows are SKIPPED entirely and surviving
    pages are row-filtered — D3 row-range synchronization: every column of
    the group returns exactly the kept rows in order."""
    arrow_type = arrow_type_from_json(chunk["type"])
    # narrow types decode at their widened storage type, cast back at the end
    work_type = widened(arrow_type) or arrow_type
    spans = [(pm["first_row"], pm["first_row"] + pm["n_values"]) for pm in chunk["pages"]]
    ids = [i for i, (s, e) in enumerate(spans) if keep is None or keep[s:e].any()]
    parts: list[pa.Array] = []
    for pm, arr, n_values, n_nulls, validity in _data_pages(buf, chunk, verify_crc, ids):
        if n_nulls:
            mask = rle.decode_validity(validity, n_values)
            arr = colcodec.rebuild_with_nulls(arr, mask, work_type)
        if arr.type != arrow_type:
            arr = restore_array(arr, arrow_type)
        if keep is not None:
            arr = _filter_rows(arr, keep[pm["first_row"] : pm["first_row"] + pm["n_values"]])
        parts.append(arr)
    if not parts:
        return pa.array([], type=arrow_type)
    return pa.concat_arrays(parts) if len(parts) > 1 else parts[0]


def _string_op_hits_dict(
    buf: memoryview, pc_chunk: dict, op: str, pattern: str, verify_crc: bool
) -> bool:
    """Dictionary-level pruning for substring ops (startswith/contains/
    endswith): exact scan of the dict page values — False means NO value in
    this chunk can match, so the whole chunk skips decode. This is the only
    prune tier available to contains/endswith (min/max is uninformative)."""
    dvals = _decode_dict_page_only(buf, pc_chunk, verify_crc)
    if not (pa.types.is_string(dvals.type) or pa.types.is_large_string(dvals.type)):
        return True
    fn = {
        "startswith": pc.starts_with,
        "contains": pc.match_substring,
        "endswith": pc.ends_with,
    }[op]
    return bool(pc.any(fn(dvals, pattern=pattern)).as_py())


def _values_in_dict(buf: memoryview, pc_chunk: dict, values, verify_crc: bool) -> bool:
    """Dictionary-level pruning test (D2 DictionaryFilter parity): True when
    ANY of ``values`` appears in the chunk's dict page — exact, not
    probabilistic."""
    dvals = _decode_dict_page_only(buf, pc_chunk, verify_crc)
    # compare in the ORIGINAL value domain: dict pages decode at the widened
    # storage type (e.g. int64 for uint64 columns), where an untyped
    # pa.scalar(2**63) overflows and a bit-pattern compare would be wrong
    orig = arrow_type_from_json(pc_chunk["type"])
    if not dvals.type.equals(orig):
        try:
            dvals = restore_array(dvals, orig)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
            pass  # conservative: compare at the storage type as before
    for v in values:
        try:
            scalar = pa.scalar(v, type=dvals.type)
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError, TypeError):
            try:
                scalar = pa.scalar(v)
                if not scalar.type.equals(dvals.type):
                    scalar = scalar.cast(dvals.type)
            except (pa.ArrowInvalid, pa.ArrowNotImplementedError,
                    OverflowError, TypeError):
                return True  # incomparable: stay conservative
        if pc.any(pc.equal(dvals, scalar)).as_py():
            return True
    return False


def _bloom_may_contain(pc_chunk: dict, values) -> bool:
    """Split-block bloom test for ==/in terms: False only when EVERY value
    provably misses (C8 bloom-level pruning)."""
    if not all(isinstance(v, (str, bytes)) for v in values):
        return True
    fb = base64.b64decode(pc_chunk["bloom"]["b64"])
    return any(
        bloom.might_contain(fb, bloom.hash_one(v.encode() if isinstance(v, str) else v))
        for v in values
    )


def local_names(present, names, aliases) -> dict:
    """Map each CURRENT column name to the name its chunk carries in one
    specific file — identity when present, else the newest resolvable entry
    of its rename chain (``aliases``: current name -> older names, oldest
    first). Names unresolvable in this file are absent from the result."""
    out = {}
    for n in names:
        if n in present:
            out[n] = n
            continue
        for old in reversed(list((aliases or {}).get(n) or ())):
            if old in present:
                out[n] = old
                break
    return out


def match_positions(
    source: str | bytes | memoryview, predicate, aliases=None,
    encryption_key: bytes | None = None,
) -> "np.ndarray":
    """GLOBAL row positions matching ``predicate`` (webcodec.predicate
    algebra) — the produce side of merge-on-read deletes: a delete job
    records these positions in a sidecar instead of rewriting the file.
    They are the late tier's positions (:func:`_late_tier`), exact because
    pruning is conservative. ``aliases`` (current name -> older names)
    localizes renamed columns to this file's chunk names; a column with no
    chunk here (added after the file) matches as all-null — no positions."""
    from webcodec import predicate as predmod

    conjuncts = predmod.normalize(predicate)
    if conjuncts is None:
        raise ValueError("match_positions requires a predicate")
    buf, footer, groups = _open(source, encryption_key)
    # ALWAYS localize — even with no renames, a column ADDED to the table
    # after this file was written has no chunk here and must read as
    # all-null (isnull matches every row, anything else matches none)
    lmap = local_names({c["name"] for c in groups[0]["chunks"]},
                       [c for c, _, _ in conjuncts], aliases or {})
    localized = []
    for c, op, v in conjuncts:
        if c in lmap:
            localized.append((lmap[c], op, v))
        elif op != "isnull":
            return np.empty(0, dtype=np.int64)  # all-null matches nothing
    n = footer["num_rows"]
    if not localized:  # only isnull terms on added columns: every row
        return np.arange(n, dtype=np.int64)
    table, _ = _late_tier(buf, groups, n, localized,
                          _stats_keep(buf, groups, n, localized, None, False), False)
    return np.asarray(table.column(_POS), dtype=np.int64)


def _empty_table(group: dict, names: list[str]) -> pa.Table:
    return pa.schema(
        [pa.field(n, _column_type(_column_chunk(group, n))) for n in names]
    ).empty_table()


def _open(source: str | bytes | memoryview, encryption_key: bytes | None):
    """(buffer, footer, groups) of a file. Each group dict gets its first
    global row as ``_base``; each chunk dict of an encrypted file gets the
    per-read decryption context and its group ordinal (the AAD chain)."""
    if isinstance(source, str):
        with open(source, "rb") as f:
            source = f.read()
    buf = memoryview(source)
    footer = read_footer(buf, encryption_key)
    groups = footer.get("groups") or [footer]
    fcr = None
    if footer.get("encryption") or encryption_key is not None:
        from webcodec import crypto as wcrypto

        fcr = wcrypto.reader_context(footer, encryption_key)
    base = 0
    for gi, g in enumerate(groups):
        g["_base"], base = base, base + g["num_rows"]
        for c in g["chunks"] if fcr is not None else ():
            c["_crypto"], c["_crypto_group"] = fcr, gi
    return buf, footer, groups


def _stats_keep(buf: memoryview, groups: list[dict], num_rows: int,
                conjuncts: list[tuple], keep_rows: np.ndarray | None,
                verify_crc: bool) -> np.ndarray | None:
    """``keep_rows`` (global mask, None = all) narrowed by the bloom,
    dictionary and page-stat tiers; conservative, never drops a match."""
    from webcodec import predicate as predmod

    any_skipped = False
    stats_keep = np.ones(num_rows, dtype=bool)
    for col, op, value in conjuncts:
        term_keep = np.zeros(num_rows, dtype=bool)
        for g in groups:
            pc_chunk = _column_chunk(g, col)
            if "dremel" in pc_chunk:
                # no pruning tier reads a Dremel column; null tests stay
                # exact through the residual filter
                if op not in ("isnull", "notnull"):
                    raise ValueError(
                        f"predicates on nested/decimal columns unsupported: {col!r}")
                term_keep[g["_base"] : g["_base"] + g["num_rows"]] = True
                continue
            pred_phys = PhysType(pc_chunk["phys"])
            eq_values = [value] if op == "==" else (list(value) if op == "in" else None)
            dict_coded = (pc_chunk.get("dict")
                          and Encoding(pc_chunk["encoding"]) == Encoding.DICT)
            if (eq_values is not None and pc_chunk.get("bloom")
                    and not _bloom_may_contain(pc_chunk, eq_values)
                    or eq_values is not None and dict_coded
                    and not _values_in_dict(buf, pc_chunk, eq_values, verify_crc)
                    or op in predmod.STRING_OPS and dict_coded
                    and not _string_op_hits_dict(buf, pc_chunk, op, value, verify_crc)):
                any_skipped = True  # whole group provably term-free
                continue
            for pm in pc_chunk["pages"]:
                if predmod.term_matches(pm, op, value, pred_phys, pm["n_values"]):
                    s = g["_base"] + pm["first_row"]
                    term_keep[s : s + pm["n_values"]] = True
                else:
                    any_skipped = True
        stats_keep &= term_keep
    if not any_skipped:
        return keep_rows
    return stats_keep if keep_rows is None else keep_rows & stats_keep


def _decode_column(buf: memoryview, groups: list[dict], name: str,
                   keep_rows: np.ndarray | None, verify_crc: bool) -> pa.Array:
    """Column ``name`` over the rows ``keep_rows`` (global mask, None = all)
    keeps, in file order; pages with no kept row are never read."""
    parts = []
    for g in groups:
        chunk = _column_chunk(g, name)
        keep = None if keep_rows is None else keep_rows[g["_base"] : g["_base"] + g["num_rows"]]
        parts.append(_decode_dremel(buf, g, chunk, verify_crc, keep)
                     if "dremel" in chunk else
                     _decode_chunk(buf, chunk, verify_crc, keep=keep))
    return pa.concat_arrays(parts) if len(parts) > 1 else parts[0]


def _pages_kept(groups: list[dict], name: str, keep_rows: np.ndarray | None) -> int:
    """How many pages of column ``name`` hold a row ``keep_rows`` keeps."""
    return sum(keep_rows is None or bool(keep_rows[g["_base"] + s : g["_base"] + e].any())
               for g in groups for s, e in _row_spans(g, _column_chunk(g, name)))


def _by_cost(groups: list[dict], conjuncts: list[tuple]) -> list[str]:
    """The predicate's columns, cheapest first by footer ``compressed_bytes``."""
    def cost(col):
        return sum(c["compressed_bytes"] for g in groups for c in g["chunks"]
                   if c["name"] == col or c["name"].startswith(col + _LEAF_SEP))

    return sorted(dict.fromkeys(c for c, _, _ in conjuncts), key=cost)


# the late tier's row-position column: no column name carries the separator
_POS = _LEAF_SEP + "pos"


def _late_tier(buf: memoryview, groups: list[dict], num_rows: int,
               conjuncts: list[tuple], keep_rows: np.ndarray | None,
               verify_crc: bool) -> tuple[pa.Table, np.ndarray | None]:
    """Late materialization: decode each predicate column, cheapest first,
    over the rows ``keep_rows`` still keeps, then filter it exactly by its
    conjuncts; an emptied mask stops the loop. Returns the predicate columns
    over the matching rows, their global positions in ``_POS``, and the
    keep mask of those rows."""
    from webcodec import predicate as predmod

    pos = np.arange(num_rows) if keep_rows is None else np.flatnonzero(keep_rows)
    table = pa.Table.from_arrays([pos], names=[_POS])
    for col in _by_cost(groups, conjuncts):
        if not table.num_rows:
            break
        n = table.num_rows
        table = predmod.residual_filter(
            table.append_column(col, _decode_column(buf, groups, col, keep_rows, verify_crc)),
            [t for t in conjuncts if t[0] == col])
        if table.num_rows < n:
            keep_rows = np.zeros(num_rows, dtype=bool)
            keep_rows[table.column(_POS).to_numpy()] = True
    return table, keep_rows


def read_table(
    source: str | bytes | memoryview,
    columns: list[str] | None = None,
    predicate=None,
    verify_crc: bool = True,
    row_range: tuple[int, int] | None = None,
    drop_rows: "np.ndarray | None" = None,
    encryption_key: bytes | None = None,
) -> pa.Table:
    """Decode a webcodec file to an Arrow table.

    ``columns``: projection — only those chunks are decoded (D6 parity; free by
    columnar layout). ``predicate``: a (col, op, value) tuple or a LIST of
    them, ANDed (webcodec.predicate algebra: ==/</<=/>/>=, in, isnull,
    notnull, startswith — D4 parity with FilterApi/Operators). Tiers: bloom,
    dictionary and page stats skip pages across ALL columns (D3 row-range
    sync); then the late tier (:func:`_late_tier`) runs the residual filter
    exactly on the predicate columns alone, and the other columns read only
    pages holding a matching row. If each keeps at most one page, there is
    nothing to skip: all columns decode and the residual filter runs once.
    ``row_range``: half-open [lo, hi) row slice of the file — only pages
    overlapping the range are decoded (same keep-mask machinery), enabling
    intra-file parallel reads: N tasks can scan one large file on disjoint
    ranges, the row-group-split analogue of the reference reader.
    ``drop_rows``: global row positions to EXCLUDE — merge-on-read
    positional deletes (Iceberg v2 delete-file analogue); merged into the
    same keep-mask machinery, so page skip and row-range sync apply.
    """
    from webcodec import predicate as predmod

    buf, footer, groups = _open(source, encryption_key)
    num_rows = footer["num_rows"]
    # Dremel leaf chunks are footer-internal, not columns.
    # columns=[] means ZERO columns that still carry the surviving row count
    # (e.g. a pure null-fill read of columns added after this file) — `or`
    # would silently decode the whole file
    names = columns if columns is not None else [
        c["name"] for c in groups[0]["chunks"] if _LEAF_SEP not in c["name"]
    ]

    conjuncts = predmod.normalize(predicate)
    if conjuncts is not None:
        # schema evolution: a column absent from this (older) file is all-null
        # here — isnull terms are vacuously true, every other term matches no
        # row, so the whole file is predicate-free
        present = {c["name"] for c in groups[0]["chunks"]}
        missing_terms = [t for t in conjuncts if t[0] not in present]
        if missing_terms:
            if any(op != "isnull" for _, op, _ in missing_terms):
                return _empty_table(groups[0], names)
            conjuncts = [t for t in conjuncts if t[0] in present] or None

    keep_rows: np.ndarray | None = None
    if row_range is not None:
        keep_rows = np.zeros(num_rows, dtype=bool)
        keep_rows[max(int(row_range[0]), 0) : min(int(row_range[1]), num_rows)] = True
    if drop_rows is not None and len(drop_rows):
        if keep_rows is None:
            keep_rows = np.ones(num_rows, dtype=bool)
        keep_rows[np.asarray(drop_rows, dtype=np.int64)] = False
    if conjuncts is not None:
        keep_rows = _stats_keep(buf, groups, num_rows, conjuncts, keep_rows, verify_crc)
    if keep_rows is not None and not keep_rows.any():
        # every group provably predicate-free (or empty range): no decode work
        return _empty_table(groups[0], names)

    def decode(cols):
        if not cols:  # no page is read: the keep mask alone counts the rows
            n = num_rows if keep_rows is None else int(keep_rows.sum())
            return pa.table([pa.nulls(n)], names=[_POS]).select([])
        return pa.Table.from_arrays(
            [_decode_column(buf, groups, n, keep_rows, verify_crc) for n in cols], names=cols)

    if conjuncts is None:
        return decode(names)
    cols = _by_cost(groups, conjuncts)
    rest = [n for n in dict.fromkeys(names) if n not in cols]
    if any(_pages_kept(groups, n, keep_rows) > 1 for n in [*cols[1:], *rest]):
        table, keep_rows = _late_tier(buf, groups, num_rows, conjuncts, keep_rows, verify_crc)
        if not table.num_rows:
            return _empty_table(groups[0], names)
        for n in rest:  # projected predicate columns are already decoded
            table = table.append_column(n, _decode_column(buf, groups, n, keep_rows, verify_crc))
    else:
        table = predmod.residual_filter(decode([*cols, *rest]), conjuncts)
    return table.select(names)
