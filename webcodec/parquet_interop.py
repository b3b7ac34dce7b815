"""Differential parquet reader: decode REAL parquet pages with our kernels.

Purpose (SURVEY.md §7.2 differential test): the engine's own file format
deliberately deviates from parquet bytes (SURVEY.md §7.0 — bit-identical
*decode output* is the contract), so self-round-trip alone cannot prove the
level/RLE/bit-pack machinery matches reference semantics. This module parses
pyarrow/parquet-java-written files directly — thrift compact-protocol page
headers, v1 data pages, PLAIN, (PLAIN_/RLE_)DICTIONARY, DELTA_BINARY_PACKED,
DELTA_LENGTH_BYTE_ARRAY, DELTA_BYTE_ARRAY and BYTE_STREAM_SPLIT encodings,
RLE-encoded definition levels — and decodes them using ONLY webcodec kernels
(``rle.decode_spec``, ``bitpack``, ``delta``, ``bss``, numpy plain readers).
BYTE_ARRAY / FIXED_LEN_BYTE_ARRAY values never become Python objects: each
page decodes to an Arrow binary array (offsets over the page bytes) that
travels through dictionary gathers, page joins and null placement to the
output column.
A value-for-value match against the reference reader is kernel-level format
parity.

Format evidence (public): the parquet-format spec (Encodings.md: RLE header
= ``groups << 1 | 1`` for bit-packed runs, ``count << 1`` + LE value bytes
for RLE runs; data page v1 = def levels [u32 length + hybrid] then values)
and the thrift compact protocol spec (field delta/type nibbles, zigzag
varints).

Scope: flat AND arbitrarily-nested schemas (list / struct / map in any
composition — full Dremel assembly from rep/def levels by
``webcodec.dremel.assemble``, honoring required/optional per the arrow
schema),
footers parsed by the SAME thrift compact reader as the page headers
(``read_footer_native`` — schema tree, logical/converted annotations,
leaf rep/def levels, chunk offsets; no pyarrow metadata machinery, so
VARIANT-annotated exports pyarrow rejects still decode),
reference MODULAR ENCRYPTION read-side (Encryption.md AES_GCM_V1, both
footer modes: FileCryptoMetaData + encrypted footer/ColumnMetaData/page
modules, key-tools PKMT1 DEK resolution via a caller KMS unwrap —
differential vs pyarrow's own decryption),
v1 AND v2 data pages (v2: levels stored uncompressed outside the compressed
values region, lengths in the page header), codecs none/snappy/zstd/gzip/
lz4, physical types BOOLEAN/INT32/INT64/FLOAT/DOUBLE/BYTE_ARRAY/
FIXED_LEN_BYTE_ARRAY (decimal unscaled big-endian ints per spec). Enough to
differential-test every kernel family the engine relies on, plus the
read-side inverse of parquet_writer's nested export (SURVEY §2 E2).
"""

from __future__ import annotations

import contextlib
import struct

import numpy as np

from webcodec import dremel
from webcodec.kernels import rle
from webcodec.kernels.varint import read_uvarint

# ---------------------------- thrift compact ---------------------------------

_STOP = 0


def _zigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _read_struct(buf: memoryview, pos: int) -> tuple[dict, int]:
    """Parse one thrift compact struct into {field_id: value}; values of
    nested structs are dicts; unneeded field types are skipped."""
    out: dict = {}
    last_fid = 0
    while True:
        byte = buf[pos]
        pos += 1
        if byte == _STOP:
            return out, pos
        delta = byte >> 4
        ftype = byte & 0x0F
        if delta == 0:  # long-form field id: zigzag varint
            u, pos = read_uvarint(buf, pos)
            fid = _zigzag(u)
        else:
            fid = last_fid + delta
        last_fid = fid
        if ftype in (1, 2):  # bool true/false encoded in the type nibble
            out[fid] = ftype == 1
        elif ftype == 3:  # byte
            out[fid] = int(np.int8(buf[pos]))
            pos += 1
        elif ftype in (4, 5, 6):  # i16/i32/i64: zigzag varint
            u, pos = read_uvarint(buf, pos)
            out[fid] = _zigzag(u)
        elif ftype == 7:  # double
            out[fid] = struct.unpack("<d", buf[pos : pos + 8])[0]
            pos += 8
        elif ftype == 8:  # binary/string
            ln, pos = read_uvarint(buf, pos)
            out[fid] = bytes(buf[pos : pos + ln])
            pos += ln
        elif ftype in (9, 10):  # list/set
            head = buf[pos]
            pos += 1
            size = head >> 4
            etype = head & 0x0F
            if size == 15:
                size, pos = read_uvarint(buf, pos)
            items = []
            for _ in range(size):
                if etype == 12:
                    v, pos = _read_struct(buf, pos)
                elif etype in (4, 5, 6):
                    u, pos = read_uvarint(buf, pos)
                    v = _zigzag(u)
                elif etype == 8:
                    ln, pos = read_uvarint(buf, pos)
                    v = bytes(buf[pos : pos + ln])
                    pos += ln
                elif etype in (1, 2):
                    v = buf[pos] == 1
                    pos += 1
                else:
                    raise ValueError(f"unknown thrift list element type {etype}")
                items.append(v)
            out[fid] = items
        elif ftype == 12:  # struct
            out[fid], pos = _read_struct(buf, pos)
        else:
            raise ValueError(f"unknown thrift compact type {ftype}")


# ------------------------------- page decode ----------------------------------

_PAGE_DATA, _PAGE_DICT, _PAGE_DATA_V2 = 0, 2, 3  # PageType enum
_ENC_PLAIN, _ENC_PLAIN_DICT, _ENC_RLE, _ENC_RLE_DICT = 0, 2, 3, 8
_ENC_DELTA_BP, _ENC_DELTA_LEN_BA, _ENC_DELTA_BA, _ENC_BSS = 5, 6, 7, 9

_BSS_DTYPES = {
    "INT32": np.dtype(np.int32),
    "INT64": np.dtype(np.int64),
    "FLOAT": np.dtype(np.float32),
    "DOUBLE": np.dtype(np.float64),
}


def _page_where(meta, off: int) -> str:
    return (f"{getattr(meta, 'file', '?')} column {meta.path!r} page at "
            f"offset {off}")


def _decompress(payload: bytes, codec: str, usize: int, meta, off: int) -> bytes:
    """Decompress the page at byte ``off`` of ``meta``'s chunk; a payload
    the codec rejects raises ``ValueError`` naming file, column and page."""
    import zlib

    import pyarrow as pa

    codec = codec.lower()
    if codec in ("uncompressed", "none"):
        return payload
    try:
        if codec == "gzip":
            return zlib.decompress(payload, wbits=31)
        return pa.decompress(payload, decompressed_size=usize, codec=codec,
                             asbytes=True)
    except (OSError, zlib.error, pa.ArrowException) as e:
        raise ValueError(f"corrupt compressed {_page_where(meta, off)}: "
                         f"{e}") from e


# PageHeader sub-header field of each page type, and the i32 fields of that
# sub-header the page walk reads (required, optional)
_PAGE_SUB = {0: (5, (1, 2), (3, 4)), 2: (7, (1,), ()),
             3: (8, (1, 4), (2, 5, 6))}


def _page_header(buf: memoryview, pos: int, meta, off: int) -> tuple[dict, int]:
    """Parse the thrift PageHeader at ``pos`` of ``buf`` (the chunk itself,
    or a decrypted header module) for the page at byte ``off``: (header,
    end). A header that does not parse, or lacks an integer field the page
    walk reads, raises ``ValueError`` naming file, column and page; an
    unknown page type passes through to the walk's ``NotImplementedError``."""
    try:
        header, end = _read_struct(buf, pos)
        ints = [header[1], header[2], header[3]]
        sub, need, opt = _PAGE_SUB.get(header[1], (None, (), ()))
        if sub is not None:
            dph = header[sub]
            if not isinstance(dph, dict):
                raise TypeError(f"field {sub} is {type(dph).__name__}")
            ints += [dph[k] for k in need] + [dph[k] for k in opt if k in dph]
    except (ValueError, IndexError, KeyError, TypeError, struct.error) as e:
        raise ValueError(f"unparseable header of {_page_where(meta, off)}: "
                         f"{e!r}") from e
    if not all(isinstance(v, int) for v in ints) or min(ints[1:3]) < 0:
        raise ValueError(f"malformed header of {_page_where(meta, off)}")
    return header, end


_U32 = struct.Struct("<I")
_I32_MAX = 2**31 - 1


def _binary_from_offsets(offsets: np.ndarray, data, validity=None):
    """Arrow binary array of ``len(offsets) - 1`` values over ``data``
    (zero-copy) at int64 ``offsets``; ``large_binary`` once the offsets
    pass 2**31 - 1."""
    import pyarrow as pa

    if offsets[-1] > _I32_MAX:
        typ, offsets = pa.large_binary(), offsets.astype(np.int64, copy=False)
    else:
        typ, offsets = pa.binary(), offsets.astype(np.int32)
    return pa.Array.from_buffers(
        typ, len(offsets) - 1,
        [validity, pa.py_buffer(offsets), pa.py_buffer(data)])


def _binary_offsets(arr) -> tuple[np.ndarray, object]:
    """(int64 offsets, data buffer) of a binary / large_binary array; the
    offsets are its own ``len(arr) + 1`` entries into the data buffer."""
    import pyarrow as pa

    _, offs, data = arr.buffers()
    dt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offsets = np.frombuffer(offs, dt)[arr.offset : arr.offset + len(arr) + 1]
    return offsets.astype(np.int64), data


def _concat_binary(parts: list):
    """Join per-page binary arrays; large_binary when the values of the
    chunk pass 2**31 - 1 bytes."""
    import pyarrow as pa

    if len(parts) == 1:
        return parts[0]
    total = 0
    for p in parts:
        offsets, _ = _binary_offsets(p)
        total += int(offsets[-1] - offsets[0])
    if total > _I32_MAX:
        parts = [p.cast(pa.large_binary()) for p in parts]
    return pa.concat_arrays(parts)


def _plain_byte_array(body: memoryview, n: int):
    """PLAIN BYTE_ARRAY: n (u32 length, bytes) pairs. Python reads only the
    lengths; the body is then viewed zero-copy as the 2n-element binary
    array ``[prefix_0, value_0, prefix_1, value_1, ...]`` and one Arrow take
    of the odd elements compacts the values in C++."""
    import pyarrow as pa

    lens: list = []
    append = lens.append
    pos = 0
    try:
        for _ in range(n):
            (ln,) = _U32.unpack_from(body, pos)
            append(ln)
            pos += 4 + ln
    except struct.error:
        raise ValueError(
            f"PLAIN BYTE_ARRAY page truncated: length prefix of value "
            f"{len(lens)} of {n} at byte {pos} runs past the "
            f"{len(body)}-byte body") from None
    if pos > len(body):
        raise ValueError(
            f"PLAIN BYTE_ARRAY page truncated: {n} values need {pos} bytes, "
            f"the body has {len(body)}")
    pieces = np.full(2 * n, 4, np.int64)
    pieces[1::2] = lens
    offsets = np.zeros(2 * n + 1, np.int64)
    np.cumsum(pieces, out=offsets[1:])
    pairs = _binary_from_offsets(offsets, body)
    return pairs.take(pa.array(np.arange(1, 2 * n, 2)))


def _pool_array(n: int, dtype) -> np.ndarray:
    """Writable, uninitialized numpy array on a buffer from Arrow's memory
    pool. Numeric output columns wrap these zero-copy, so they reuse pages
    the pool already holds instead of taking fresh malloc pages."""
    import pyarrow as pa

    dtype = np.dtype(dtype)
    return np.frombuffer(pa.allocate_buffer(n * dtype.itemsize), dtype)


def _plain_values(body: memoryview, n: int, phys: str, tlen: int = 0):
    """PLAIN values: numpy arrays for numeric types, one Arrow binary array
    for BYTE_ARRAY / FIXED_LEN_BYTE_ARRAY."""
    if phys == "INT32":
        return np.frombuffer(body, dtype=np.int32, count=n)
    if phys == "INT64":
        return np.frombuffer(body, dtype=np.int64, count=n)
    if phys == "FLOAT":
        return np.frombuffer(body, dtype=np.float32, count=n)
    if phys == "DOUBLE":
        return np.frombuffer(body, dtype=np.float64, count=n)
    if phys == "BYTE_ARRAY":
        return _plain_byte_array(body, n)
    if phys == "BOOLEAN":  # PLAIN booleans: LSB-first bit-packed
        bits = np.frombuffer(body, dtype=np.uint8, count=(n + 7) // 8)
        return np.unpackbits(bits, bitorder="little")[:n].astype(bool)
    if phys == "FIXED_LEN_BYTE_ARRAY":
        if tlen <= 0:
            raise ValueError(f"FIXED_LEN_BYTE_ARRAY leaf with type_length "
                             f"{tlen}")
        if n * tlen > len(body):
            raise ValueError(
                f"FIXED_LEN_BYTE_ARRAY page truncated: {n} values of {tlen} "
                f"bytes need {n * tlen}, the body has {len(body)}")
        return _binary_from_offsets(np.arange(n + 1, dtype=np.int64) * tlen,
                                    body)
    if phys == "INT96":
        # legacy parquet-java timestamps: 8B LE nanos-in-day + 4B LE julian
        # day; converted to epoch nanoseconds (julian epoch day = 2440588)
        raw = np.frombuffer(body, dtype=np.uint8, count=n * 12).reshape(n, 12)
        nanos = raw[:, :8].copy().view("<i8").ravel()
        jday = raw[:, 8:].copy().view("<i4").ravel().astype(np.int64)
        return (jday - 2440588) * 86_400_000_000_000 + nanos
    raise NotImplementedError(f"physical type {phys}")


def _delta_length_byte_array(body: memoryview, n: int):
    """DELTA_LENGTH_BYTE_ARRAY: a DELTA_BINARY_PACKED stream of lengths,
    immediately followed by the concatenated value bytes — a binary array
    over that blob at the lengths' running sum."""
    from webcodec.kernels import delta

    lens, off = delta.decode_stream(body, n)
    blob = body[off:]
    # max first: a hostile length must not overflow the sum
    if n and (lens.min() < 0 or lens.max() > len(blob)
              or lens.sum() > len(blob)):
        raise ValueError(
            f"DELTA_LENGTH_BYTE_ARRAY page truncated or corrupt: {n} "
            f"lengths do not fit the {len(blob)} value bytes")
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    return _binary_from_offsets(offsets, blob)


def _delta_byte_array(body: memoryview, n: int):
    """DELTA_BYTE_ARRAY: prefix lengths (delta stream), then the suffixes as
    DELTA_LENGTH_BYTE_ARRAY; value i = value[i-1][:prefix_i] + suffix_i,
    rebuilt by the ``.wcd`` kernel's ``prefix.join``."""
    from webcodec.kernels import delta, prefix

    prefix_lens, off = delta.decode_stream(body, n)
    offsets, data = _binary_offsets(_delta_length_byte_array(body[off:], n))
    suffix = np.frombuffer(data, np.uint8, count=int(offsets[-1]))
    return prefix.join(prefix_lens, np.diff(offsets), suffix)


# Deprecated BIT_PACKED rep/def levels: the ecosystem DIVERGED on bit order.
# The spec (Encodings.md) and parquet-java (ByteBitPackingValuesReader,
# Packer.BIG_ENDIAN) are MSB-first — and old parquet-mr is the only writer
# that ever emitted this encoding, so real-world legacy files are MSB.
# Arrow C++ instead decodes these levels with its generic LSB-first
# BitReader (parquet/column_reader.h: bit_packed_decoder_), so pyarrow 16
# mis-reads genuine parquet-mr BIT_PACKED files. Default to the spec order;
# set "lsb" to read files produced by Arrow-BitReader-order writers.
BIT_PACKED_LEVEL_ORDER = "msb"


def _bit_packed_unpack(bitpack):
    return (bitpack.unpack_legacy if BIT_PACKED_LEVEL_ORDER == "msb"
            else bitpack.unpack_legacy_lsb)


def _read_leaf_entries(buf: memoryview, meta, phys: str, max_rep: int,
                       max_def: int, type_length: int = 0,
                       dict_values=None, verify_crc: bool = False):
    """Decode one LEAF column chunk to Dremel entry streams using only
    webcodec kernels: (values, rep, def) where ``values`` holds the present
    values only (a numpy array; for BYTE_ARRAY / FIXED_LEN_BYTE_ARRAY one
    Arrow binary array built from the page buffers without per-value
    objects, large_binary past 2**31 - 1 value bytes), ``rep``/``def`` are
    int64 per-ENTRY level arrays (``rep`` is None when max_rep == 0;
    ``def`` is None when max_def == 0). ``dict_values`` injects a
    pre-decoded dictionary page for page-selective reads that start past
    the chunk's own dictionary page."""
    import pyarrow as pa

    codec = meta.compression
    start = meta.dictionary_page_offset
    if start is None:
        start = meta.data_page_offset
    end = start + meta.total_compressed_size
    w_def = max(max_def.bit_length(), 1)
    w_rep = max(max_rep.bit_length(), 1)
    vals_parts: list = []
    rep_parts: list = []
    def_parts: list = []
    pos = start
    entries = 0
    crypto = getattr(meta, "crypto", None)
    page_ord = 0  # DATA page ordinal for module AADs (dict pages excluded)
    expect_dict = crypto is not None and meta.dictionary_page_offset is not None
    if crypto is not None and crypto["gcm"] is None:
        # ENCRYPTION_WITH_FOOTER_KEY chunk whose footer key was never
        # resolved — deferred from _chunk_crypto so that footer parsing and
        # plaintext-column reads work keyless; raising is correct only once
        # a caller actually projects THIS column's pages
        raise ValueError(
            "column chunk is encrypted with the footer key but no footer "
            "key was resolved: pass kms_unwrap (and ensure the file "
            "carries footer_signing_key_metadata)")
    while pos < end and entries < meta.num_values:
        off = pos
        if crypto is not None:
            # every page is TWO length-prefixed AES-GCM modules: the thrift
            # PageHeader, then the (compressed-then-encrypted) page payload;
            # dict modules carry (rg, col) AADs, data modules add the page
            # ordinal (parquet-format Encryption.md, verified differentially)
            base = crypto["aad_unique"]
            rgc = struct.pack("<hh", crypto["rg"], crypto["col"])
            if expect_dict:
                hdr_aad = base + bytes([_MOD_DICT_PAGE_HDR]) + rgc
                pg_aad = base + bytes([_MOD_DICT_PAGE]) + rgc
            else:
                pp = struct.pack("<h", page_ord)
                hdr_aad = base + bytes([_MOD_DATA_PAGE_HDR]) + rgc + pp
                pg_aad = base + bytes([_MOD_DATA_PAGE]) + rgc + pp
                page_ord += 1
            expect_dict = False
            (hlen,) = struct.unpack_from("<I", buf, pos)
            hdr_plain = _gcm_decrypt(
                crypto["gcm"], buf[pos + 4 : pos + 4 + hlen], hdr_aad)
            pos += 4 + hlen
            header, _ = _page_header(memoryview(hdr_plain), 0, meta, off)
            ptype = header[1]
            usize, csize = header[2], header[3]
            (plen,) = struct.unpack_from("<I", buf, pos)
            if crypto.get("ctr"):
                # AES_GCM_CTR_V1: page PAYLOADS are CTR (no tag, no AAD);
                # headers and all other modules stay GCM
                raw_page = memoryview(_ctr_decrypt(
                    crypto["key"], buf[pos + 4 : pos + 4 + plen]))
            else:
                raw_page = memoryview(_gcm_decrypt(
                    crypto["gcm"], buf[pos + 4 : pos + 4 + plen], pg_aad))
            pos += 4 + plen
        else:
            header, pos = _page_header(buf, pos, meta, off)
            ptype = header[1]
            usize, csize = header[2], header[3]
            raw_page = buf[pos : pos + csize]
            pos += csize
            if verify_crc and header.get(4) is not None:
                import zlib

                if zlib.crc32(bytes(raw_page)) != header[4] % (1 << 32):
                    raise ValueError(
                        "page CRC mismatch in chunk "
                        f"{getattr(meta, 'path', '?')!r}: the compressed "
                        "page bytes are corrupt")
        if ptype == _PAGE_DICT:
            dph = header[7]
            body = memoryview(_decompress(bytes(raw_page), codec, usize,
                                          meta, off))
            dict_values = _plain_values(body, dph[1], phys, type_length)
            continue
        reps = defs = None
        if ptype == _PAGE_DATA:
            dph = header[5]
            n_values = dph[1]
            enc = dph[2]
            lvl_enc = dph.get(3, _ENC_RLE)  # definition_level_encoding
            body = memoryview(_decompress(bytes(raw_page), codec, usize,
                                          meta, off))
            if max_rep:
                if dph.get(4, _ENC_RLE) == 4:  # deprecated BIT_PACKED reps
                    from webcodec.kernels import bitpack

                    nb = (n_values * w_rep + 7) // 8
                    reps = _bit_packed_unpack(bitpack)(
                        body[:nb], w_rep, n_values)
                    body = body[nb:]
                else:
                    (rl,) = struct.unpack_from("<I", body, 0)
                    reps = rle.decode_spec(body[4 : 4 + rl], w_rep, n_values)
                    body = body[4 + rl :]
            if max_def:
                if lvl_enc == _ENC_RLE:  # u32 length + hybrid stream
                    (lvl_len,) = struct.unpack_from("<I", body, 0)
                    defs = rle.decode_spec(body[4 : 4 + lvl_len], w_def, n_values)
                    body = body[4 + lvl_len :]
                elif lvl_enc == 4:  # deprecated BIT_PACKED: no u32 prefix
                    from webcodec.kernels import bitpack

                    nb = (n_values * w_def + 7) // 8
                    defs = _bit_packed_unpack(bitpack)(
                        body[:nb], w_def, n_values)
                    body = body[nb:]
                else:
                    raise NotImplementedError(f"level encoding {lvl_enc}")
                n_nonnull = int((defs == max_def).sum())
            else:
                n_nonnull = n_values
        elif ptype == _PAGE_DATA_V2:
            # v2: levels live UNCOMPRESSED ahead of the (optionally)
            # compressed values; lengths come from the header, level
            # streams carry no u32 prefix
            dph = header[8]
            n_values = dph[1]
            n_nulls = dph.get(2, 0)
            enc = dph[4]
            def_len = dph.get(5, 0)
            rep_len = dph.get(6, 0)
            compressed = dph.get(7, True)
            lvl_bytes = raw_page[: rep_len + def_len]
            vals_bytes = bytes(raw_page[rep_len + def_len :])
            if compressed:
                vals_bytes = _decompress(vals_bytes, codec,
                                         usize - rep_len - def_len, meta, off)
            body = memoryview(vals_bytes)
            if max_rep:
                reps = rle.decode_spec(lvl_bytes[:rep_len], w_rep, n_values)
            if max_def:
                defs = rle.decode_spec(lvl_bytes[rep_len:], w_def, n_values)
                n_nonnull = int((defs == max_def).sum())
                if not max_rep:
                    assert n_values - n_nonnull == n_nulls
            else:
                n_nonnull = n_values
        else:
            raise NotImplementedError(f"page type {ptype}")
        if enc in (_ENC_PLAIN_DICT, _ENC_RLE_DICT):
            if dict_values is None:
                raise ValueError(
                    f"dictionary-encoded page in chunk "
                    f"{getattr(meta, 'path', '?')!r} has no dictionary page")
            width = body[0]
            idx = rle.decode_spec(body[1:], width, n_nonnull)
            if len(idx) and idx.max() >= len(dict_values):
                raise ValueError(
                    f"dictionary index {idx.max()} out of range for the "
                    f"{len(dict_values)}-entry dictionary of chunk "
                    f"{getattr(meta, 'path', '?')!r}")
            vals = (dict_values[idx] if isinstance(dict_values, np.ndarray)
                    else dict_values.take(pa.array(idx)))
        elif enc == _ENC_PLAIN:
            vals = _plain_values(body, n_nonnull, phys, type_length)
        elif enc == _ENC_DELTA_BP:
            from webcodec.kernels import delta

            vals = delta.decode(body, n_nonnull)
            if phys == "INT32":
                vals = vals.astype(np.int32)
        elif enc == _ENC_DELTA_LEN_BA:
            vals = _delta_length_byte_array(body, n_nonnull)
        elif enc == _ENC_DELTA_BA:
            vals = _delta_byte_array(body, n_nonnull)
        elif enc == _ENC_BSS:
            from webcodec.kernels import bss

            vals = bss.decode(body, _BSS_DTYPES[phys], n_nonnull)
        elif enc == _ENC_RLE and phys == "BOOLEAN":
            # v2 boolean value stream: u32-prefixed RLE hybrid, width 1
            (ln,) = struct.unpack_from("<I", body, 0)
            vals = rle.decode_spec(body[4 : 4 + ln], 1, n_nonnull).astype(bool)
        else:
            raise NotImplementedError(f"encoding {enc}")
        vals_parts.append(vals)
        if reps is not None:
            rep_parts.append(np.asarray(reps, np.int64))
        if defs is not None:
            def_parts.append(np.asarray(defs, np.int64))
        entries += n_values

    if vals_parts and isinstance(vals_parts[0], pa.Array):
        values: object = _concat_binary(vals_parts)
    elif vals_parts:
        values = _pool_array(sum(map(len, vals_parts)),
                             np.result_type(*vals_parts))
        np.concatenate(vals_parts, out=values)
    else:
        values = np.zeros(0, np.int64)
    reps_all = np.concatenate(rep_parts) if rep_parts else None
    defs_all = np.concatenate(def_parts) if def_parts else None
    return values, reps_all, defs_all


# ------------------- leaf values for dremel.assemble --------------------------


def _decimal_arrow(vals, present, target_type):
    """decimal128/256 array built straight into its little-endian value
    buffer. Binary values (FLBA / BYTE_ARRAY) are big-endian two's-complement
    unscaled ints (parquet spec): reversed and sign-extended. INT32/INT64
    values ARE the unscaled int — a plain arrow cast would scale 5 to 5.00
    instead of 0.05."""
    import pyarrow as pa

    width = 32 if pa.types.is_decimal256(target_type) else 16
    if isinstance(vals, pa.Array):
        offsets, data = _binary_offsets(vals)
        raw = np.frombuffer(data, np.uint8)
        ends = offsets[1:]
        lens = ends - offsets[:-1]
        longest = int(lens.max()) if len(lens) else 0
        if longest > width:
            raise ValueError(
                f"{longest}-byte decimal value does not fit {target_type}")
        neg = np.zeros(len(lens), bool)
        nonempty = lens > 0
        neg[nonempty] = raw[offsets[:-1][nonempty]] >= 0x80
        le = np.zeros((len(lens), width), np.uint8)
        le[neg] = 0xFF
        for j in range(longest):  # byte j counted from the low end
            m = lens > j
            le[m, j] = raw[ends[m] - 1 - j]
    else:
        v = np.asarray(vals).astype(np.int64)
        lanes = np.empty((len(v), width // 8), np.int64)
        lanes[:, 0] = v
        lanes[:, 1:] = (v >> 63)[:, None]
        le = lanes.view(np.uint8)
    validity = None
    if present is not None:
        full = np.zeros((len(present), width), np.uint8)
        full[present] = le
        le, validity = full, dremel.validity_buf(present)
    return pa.Array.from_buffers(target_type, len(le),
                                 [validity, pa.py_buffer(le)])


def _leaf_arrow(vals, defs, max_def, target_type):
    """Leaf entry stream -> arrow array (one slot per entry; null when
    def < max_def), cast to the schema's leaf type. ``vals`` holds only the
    present values: a numpy array, or for BYTE_ARRAY / FLBA one Arrow binary
    array. Nulls go in by re-spacing that array's offsets over the same data
    buffer (a null slot is an empty span) plus a validity bitmap; no value
    becomes a Python object."""
    import pyarrow as pa

    present = (defs == max_def) if defs is not None else None
    if present is not None and present.all():
        present = None
    if pa.types.is_decimal(target_type):
        return _decimal_arrow(vals, present, target_type)
    if isinstance(vals, pa.Array) and pa.types.is_float16(target_type):
        # Float16 logical annotation: FLBA(2), IEEE 754 half, little-endian
        # (parquet-format LogicalTypes.md) — binary->halffloat has no arrow
        # cast, so reinterpret the raw bytes
        offsets, data = _binary_offsets(vals)
        vals = np.frombuffer(data, "<f2", count=len(vals),
                             offset=int(offsets[0]))
    if isinstance(vals, pa.Array):  # BYTE_ARRAY / FLBA
        if present is not None:
            offsets, data = _binary_offsets(vals)
            spaced = np.zeros(len(present) + 1, np.int64)
            spaced[0] = offsets[0]
            spaced[1:][present] = np.diff(offsets)
            np.cumsum(spaced, out=spaced)
            vals = _binary_from_offsets(spaced, data, dremel.validity_buf(present))
        return vals.cast(target_type) if vals.type != target_type else vals
    vals = np.asarray(vals)
    if (pa.types.is_date32(target_type) or pa.types.is_time32(target_type)) \
            and vals.dtype != np.int32:
        # v2 pages delta-decode INT32 leaves to int64; arrow has no
        # int64->date32/time32 cast, so narrow first (values fit by format)
        vals = vals.astype(np.int32)
    if target_type in (pa.uint32(), pa.uint64()) and vals.dtype.kind == "i":
        # UINT_32/UINT_64 store bit-reinterpreted in the signed lane: a
        # checked cast raises on the negative patterns (values >= 2^31/63),
        # so reinterpret the numpy buffer instead (delta-decoded INT32
        # lanes arrive as int64 — wrap back to 32 bits first)
        w = np.uint32 if target_type == pa.uint32() else np.uint64
        vals = vals.astype(np.int32 if w is np.uint32 else np.int64).view(w)
    if present is None:
        arr = pa.array(vals)
    else:
        full = _pool_array(len(present), vals.dtype)
        full.fill(0)
        full[present] = vals
        arr = pa.array(full, mask=~present)
    return arr.cast(target_type) if arr.type != target_type else arr


# ---------------------------- native footer -----------------------------------
# FileMetaData parsed with the SAME compact-protocol reader the page headers
# use — no pyarrow metadata dependency, so files pyarrow's thrift layer
# rejects (e.g. VARIANT-annotated exports) still decode. Field ids from the
# public parquet.thrift: FileMetaData(2 schema, 4 row_groups),
# SchemaElement(1 type, 2 type_length, 3 repetition, 4 name, 5 num_children,
# 6 converted_type, 7 scale, 8 precision, 10 logicalType),
# RowGroup(1 columns), ColumnChunk(3 meta_data), ColumnMetaData(1 type,
# 3 path_in_schema, 4 codec, 5 num_values, 7 total_compressed_size,
# 9 data_page_offset, 11 dictionary_page_offset).

_PHYS_NAMES = {0: "BOOLEAN", 1: "INT32", 2: "INT64", 3: "INT96", 4: "FLOAT",
               5: "DOUBLE", 6: "BYTE_ARRAY", 7: "FIXED_LEN_BYTE_ARRAY"}
_CODEC_NAMES = {0: "uncompressed", 1: "snappy", 2: "gzip", 4: "brotli",
                5: "lz4", 6: "zstd", 7: "lz4_raw"}


class _ChunkMeta:
    """Duck-typed stand-in for pyarrow's ColumnChunkMetaData — exactly the
    attributes ``_read_leaf_entries`` touches, plus the modular-encryption
    context (``crypto``: {"gcm", "aad_unique", "rg", "col"}) when the chunk's
    pages are AES-GCM modules."""

    __slots__ = ("compression", "dictionary_page_offset", "data_page_offset",
                 "total_compressed_size", "num_values", "path", "file", "crypto",
                 "statistics", "offset_index_offset", "column_index_offset",
                 "bloom_offset", "size_statistics", "geo_statistics")

    def __init__(self, md: dict, crypto: dict | None = None,
                 cc: dict | None = None, file: str = "?"):
        self.file = file  # for error messages
        self.compression = _CODEC_NAMES.get(md.get(4, 0), "uncompressed")
        self.dictionary_page_offset = md.get(11)
        self.data_page_offset = md[9]
        self.total_compressed_size = md[7]
        self.num_values = md[5]
        self.path = ".".join(
            p.decode() if isinstance(p, bytes) else p for p in md[3])
        if not all(isinstance(v, int) and v >= 0 for v in (
                self.data_page_offset, self.total_compressed_size,
                self.num_values, self.dictionary_page_offset or 0)):
            raise ValueError(f"column chunk {self.path!r} has a malformed "
                             "page offset, size or value count")
        self.crypto = crypto
        # Statistics (field 12): raw PLAIN-encoded bounds + null_count —
        # callers interpret min/max bytes per the leaf's physical type
        st = md.get(12)
        self.statistics = None if st is None else {
            "null_count": st.get(3),
            "min_value": st.get(6),
            "max_value": st.get(5),
        }
        # ColumnChunk page-index locations (fields 4/6); thrift structs are
        # self-delimiting so the length fields (5/7) aren't needed
        self.offset_index_offset = None if cc is None else cc.get(4)
        self.column_index_offset = None if cc is None else cc.get(6)
        self.bloom_offset = md.get(14)  # ColumnMetaData.bloom_filter_offset
        # SizeStatistics (field 16): {"unencoded_bytes", "rep_hist",
        # "def_hist"} — parquet-java 1.14+ memory-planning metadata
        ss = md.get(16)
        self.size_statistics = None if ss is None else {
            "unencoded_bytes": ss.get(1),
            "rep_hist": ss.get(2),
            "def_hist": ss.get(3),
        }
        # GeospatialStatistics (field 17): bbox doubles + WKB type codes
        gs = md.get(17)
        if gs is None:
            self.geo_statistics = None
        else:
            bb = gs.get(1)
            self.geo_statistics = {
                "bbox": None if bb is None else {
                    k: bb.get(i) for i, k in enumerate(
                        ("xmin", "xmax", "ymin", "ymax",
                         "zmin", "zmax", "mmin", "mmax"), start=1)
                    if bb.get(i) is not None},
                "types": gs.get(2),
            }


# parquet-format Encryption.md module types, verified against files the
# reference writer (arrow-C++ FileEncryptionProperties) produced: GCM AAD =
# aad_file_unique || module_type(1B) || row_group(i16 LE) || column(i16 LE)
# [|| page(i16 LE) for DATA page header/page modules]; every encrypted
# module buffer is length(u32 LE)-prefixed nonce(12) || ciphertext || tag(16)
_MOD_FOOTER, _MOD_COLMD = 0, 1
_MOD_DATA_PAGE, _MOD_DICT_PAGE = 2, 3
_MOD_DATA_PAGE_HDR, _MOD_DICT_PAGE_HDR = 4, 5


def _gcm_decrypt(gcm, module: bytes | memoryview, aad: bytes) -> bytes:
    module = bytes(module)
    return gcm.decrypt(module[:12], module[12:], aad)


def _ctr_decrypt(key: bytes, module: bytes | memoryview) -> bytes:
    """AES_GCM_CTR_V1 page module: nonce(12) || ciphertext, no tag/AAD.
    Initial counter block = nonce || big-endian 1 (parquet-format
    Encryption.md; verified differentially against reference-written
    GCM_CTR files)."""
    from cryptography.hazmat.primitives.ciphers import (
        Cipher, algorithms, modes)

    module = bytes(module)
    icb = module[:12] + b"\x00\x00\x00\x01"
    dec = Cipher(algorithms.AES(key), modes.CTR(icb)).decryptor()
    return dec.update(module[12:]) + dec.finalize()


def _keytools_dek(key_metadata: bytes, kms_unwrap) -> "bytes":
    """Resolve a DEK from parquet key-tools key metadata (the PKMT1 JSON the
    reference CryptoFactory writes). ``kms_unwrap(wrapped_b64: str,
    master_key_id: str) -> bytes`` mirrors KmsClient.unwrap_key. Single
    wrapping only (double wrapping adds a KEK layer we don't need for
    interop parity)."""
    import base64 as _b64
    import json as _json

    if kms_unwrap is None:
        raise ValueError("encrypted parquet file: pass kms_unwrap to "
                         "resolve keys from key metadata")
    if isinstance(kms_unwrap, (bytes, bytearray)):
        # convenience: the caller hands the FOOTER KEY directly; empty
        # key metadata means "the footer key itself", WEBCODEC-FW-marked
        # column metadata unwraps under it (the writer's secure default)
        footer_key = bytes(kms_unwrap)
        if not bytes(key_metadata):
            return footer_key
        from cryptography.hazmat.primitives.ciphers.aead import AESGCM as _G

        km = _json.loads(bytes(key_metadata))
        if km.get("kmsInstanceID") == "WEBCODEC-FW":
            w = _b64.b64decode(km["wrappedDEK"])
            return _G(footer_key).decrypt(w[:12], w[12:], b"webcodec-fw")
        raise ValueError(
            "key metadata needs a KMS: pass kms_unwrap as a callable")
    km = _json.loads(bytes(key_metadata))
    if km.get("keyMaterialType") not in (None, "PKMT1"):
        raise NotImplementedError(
            f"key material type {km.get('keyMaterialType')!r}")
    if km.get("doubleWrapping"):
        # key-tools double wrapping (the reference CryptoFactory DEFAULT):
        # KEK = kms_unwrap(wrappedKEK); DEK = AES-GCM(wrappedDEK) under the
        # KEK with AAD = the RAW kek id bytes (verified differentially
        # against reference-written files)
        from cryptography.hazmat.primitives.ciphers.aead import AESGCM as _G

        kek = kms_unwrap(km["wrappedKEK"], km.get("masterKeyID", ""))
        kek = kek if isinstance(kek, bytes) else _b64.b64decode(kek)
        wdek = _b64.b64decode(km["wrappedDEK"])
        aad = _b64.b64decode(km["keyEncryptionKeyID"])
        return _G(kek).decrypt(wdek[:12], wdek[12:], aad)
    dek = kms_unwrap(km["wrappedDEK"], km.get("masterKeyID", ""))
    return dek if isinstance(dek, bytes) else _b64.b64decode(dek)


def _chunk_crypto(cc: dict, footer_gcm, aad_unique: bytes, rg: int, col: int,
                  kms_unwrap, footer_encrypted: bool = False,
                  footer_key: bytes | None = None, ctr: bool = False):
    """(ColumnMetaData dict, crypto ctx) for one ColumnChunk that may carry
    ColumnCryptoMetaData (field 8) + encrypted_column_metadata (field 9).
    A chunk without crypto_metadata is a PLAINTEXT column (the reference
    writer leaves unlisted columns unencrypted even in encrypted-footer
    mode; footer-key encryption is always signaled explicitly via the
    ENCRYPTION_WITH_FOOTER_KEY union arm)."""
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    crypto_md = cc.get(8)
    if crypto_md is None:
        return cc[3], None
    if 1 in crypto_md:  # ENCRYPTION_WITH_FOOTER_KEY: metadata plaintext here
        # plaintext-footer files only resolve the footer key when kms_unwrap
        # is passed (from footer_signing_key_metadata). A missing key is NOT
        # an error yet: schema listing and plaintext-column projections must
        # keep working — the chunk carries an unresolved-crypto marker and
        # the page reader raises the cause only if these pages are actually
        # decrypted (not an AttributeError deep inside page decode)
        return cc[3], {"gcm": footer_gcm, "key": footer_key,
                       "aad_unique": aad_unique, "rg": rg, "col": col,
                       "ctr": ctr}
    colkey = crypto_md[2]  # ENCRYPTION_WITH_COLUMN_KEY {1: path, 2: key_md}
    key = _keytools_dek(colkey[2], kms_unwrap)
    gcm = AESGCM(key)
    enc_md = cc[9]
    # ColumnMetaData is a METADATA module: always GCM, even in GCM_CTR mode
    aad = aad_unique + bytes([_MOD_COLMD]) + struct.pack("<hh", rg, col)
    md, _ = _read_struct(memoryview(_gcm_decrypt(gcm, enc_md[4:], aad)), 0)
    return md, {"gcm": gcm, "key": key, "aad_unique": aad_unique,
                "rg": rg, "col": col, "ctr": ctr}


def _leaf_arrow_type(e: dict):
    """Arrow type of one leaf SchemaElement from physical + converted +
    logical annotations (mirrors pyarrow's ParquetToArrow mapping for the
    types in scope)."""
    import pyarrow as pa

    phys = e.get(1)
    conv = e.get(6)
    logical = e.get(10) or {}
    tlen = e.get(2, 0)
    if 5 in logical or conv == 5:
        # DECIMAL via LogicalType(scale, precision), else via ConvertedType
        # + the element's scale/precision fields
        dec = logical.get(5, {})
        precision = dec.get(2, e.get(8))
        scale = dec.get(1, e.get(7, 0))
        return (pa.decimal256 if precision > 38 else pa.decimal128)(
            precision, scale)
    if phys == 0:
        return pa.bool_()
    if phys == 1:  # INT32
        if conv == 6 or 6 in logical:
            return pa.date32()
        if 10 in logical:
            it = logical[10]
            w, signed = it.get(1, 32), it.get(2, True)
            return getattr(pa, f"int{w}" if signed else f"uint{w}")()
        if conv in (15, 16, 17, 11, 12, 13):
            return {15: pa.int8, 16: pa.int16, 17: pa.int32, 11: pa.uint8,
                    12: pa.uint16, 13: pa.uint32}[conv]()
        if conv == 7 or (7 in logical and logical[7].get(2, {}).get(1) is not None):
            return pa.time32("ms")
        if 7 in logical:
            return pa.time32("ms")
        return pa.int32()
    if phys == 2:  # INT64
        if 8 in logical:  # TIMESTAMP{isAdjustedToUTC, unit}
            ts = logical[8]
            unit = {1: "ms", 2: "us", 3: "ns"}[
                next(iter(ts.get(2, {2: {}})))]
            return pa.timestamp(unit, tz="UTC" if ts.get(1) else None)
        if conv == 9:
            return pa.timestamp("ms")
        if conv == 10:
            return pa.timestamp("us")
        if 7 in logical:
            t = logical[7]
            unit = {1: "ms", 2: "us", 3: "ns"}[next(iter(t.get(2, {2: {}})))]
            return pa.time64(unit) if unit != "ms" else pa.time32("ms")
        if conv == 8:
            return pa.time64("us")
        if 10 in logical:
            it = logical[10]
            return pa.int64() if it.get(2, True) else pa.uint64()
        if conv == 14:
            return pa.uint64()
        return pa.int64()
    if phys == 3:
        return pa.timestamp("ns")
    if phys == 4:
        return pa.float32()
    if phys == 5:
        return pa.float64()
    if phys == 6:  # BYTE_ARRAY
        # STRING plus the UTF-8-semantic annotations ENUM and JSON
        # (LogicalTypes.md declares both to be UTF-8 data; DuckDB and
        # arrow >= 17 read them as text — pyarrow 16 still says binary).
        # BSON stays binary: its payload is not text.
        if (conv in (0, 4, 19) or 1 in logical or 4 in logical
                or 12 in logical):
            return pa.string()
        return pa.binary()
    if phys == 7:  # FLBA
        if 15 in logical:
            return pa.float16()
        return pa.binary(tlen)
    raise NotImplementedError(f"physical type enum {phys}")


def _parse_schema_tree(elems: list[dict]):
    """Flattened SchemaElement list -> (top-level arrow fields, leaf infos).

    Returns ``(fields, leaves, spans, variant_shredded)`` where ``fields``
    is a list of ``pa.field(name, type, nullable)`` for each top-level
    column, ``leaves`` is the flat per-leaf list in file order:
    ``{"path", "phys", "tlen", "max_rep", "max_def"}`` and ``spans[k]`` is
    the range of leaf positions under field k. Standard 3-level
    LIST and MAP groups, arbitrary struct nesting, UNSHREDDED VARIANT
    groups (exposed as their storage struct), plus the LogicalTypes.md
    backward-compatibility rules: legacy 2-level lists (repeated leaf
    directly under the LIST group — old parquet-mr / Spark
    writeLegacyFormat), repeated groups as list elements (multi-field, or
    named ``array``/``<name>_tuple``), and UNANNOTATED repeated fields
    (protobuf/thrift converters) as required list<required element>;
    shredded variant raises NotImplementedError."""
    import pyarrow as pa

    leaves: list[dict] = []
    variant_shredded: list[tuple] = []

    def name_of(e):
        n = e.get(4, b"")
        return n.decode() if isinstance(n, bytes) else n

    def node(i: int, r: int, d: int, path: tuple, as_element: bool = False):
        e = elems[i]
        rep = e.get(3, 0)
        nullable = rep == 1
        if rep == 2 and not as_element:
            cv, lg = e.get(6), e.get(10) or {}
            if not (cv in (1, 2, 3) or 2 in lg or 3 in lg):
                # back-compat: a repeated field with no LIST/MAP annotation
                # is a required list of required elements; the repeated node
                # itself is the element (leaf or struct of its children)
                et, _, ni = node(i, r, d, path, as_element=True)
                return pa.list_(pa.field(name_of(e), et, False)), False, ni
        r2 = r + (1 if rep == 2 else 0)
        d2 = d + (1 if rep in (1, 2) else 0)
        n_children = e.get(5)
        nm = name_of(e)
        p2 = path + (nm,)
        if not n_children:  # leaf
            leaf = {
                "path": ".".join(p2), "phys": _PHYS_NAMES[e.get(1)],
                "tlen": e.get(2, 0), "max_rep": r2, "max_def": d2,
            }
            lg = e.get(10) or {}
            for fid, kind in ((17, "GEOMETRY"), (18, "GEOGRAPHY")):
                if fid in lg:  # Geospatial.md: WKB bytes + optional crs
                    crs = lg[fid].get(1)
                    leaf["geo"] = {
                        "kind": kind,
                        "crs": crs.decode() if isinstance(crs, bytes) else crs,
                    }
            # semantic BYTE_ARRAY annotations (ENUM/JSON/BSON): the arrow
            # type stays string/binary (pyarrow's stance) but callers see
            # what the writer declared
            for fid, kind in ((4, "ENUM"), (12, "JSON"), (13, "BSON")):
                if fid in lg:
                    leaf["annotation"] = kind
            if "annotation" not in leaf and e.get(6) in (4, 19, 20):
                leaf["annotation"] = {4: "ENUM", 19: "JSON",
                                      20: "BSON"}[e.get(6)]
            leaves.append(leaf)
            return _leaf_arrow_type(e), nullable, i + 1
        conv = e.get(6)
        logical = e.get(10) or {}
        if conv == 3 or 3 in logical:  # LIST: <group> -> repeated -> element
            mid = elems[i + 1]
            if mid.get(3) != 2:
                raise NotImplementedError("non-standard LIST layout")
            mc = mid.get(5) or 0
            mid_name = name_of(mid)
            if (not mc) or mc >= 2 or mid_name == "array" \
                    or mid_name == nm + "_tuple":
                # LogicalTypes.md back-compat: the repeated node ITSELF is
                # the element — a 2-level list (repeated leaf: old
                # parquet-mr / Spark writeLegacyFormat non-null elements)
                # or a repeated element group (multi-field, or named
                # array / <name>_tuple); elements are required
                et, _, ni = node(i + 1, r2, d2, p2, as_element=True)
                return pa.list_(pa.field(mid_name, et, False)), nullable, ni
            mr, md_ = r2 + 1, d2 + 1
            et, en, ni = node(i + 2, mr, md_, p2 + (mid_name,))
            # keep the writer's element name (pyarrow "item", spec "element",
            # Spark "element", ...) for exact schema parity
            return pa.list_(
                pa.field(name_of(elems[i + 2]), et, en)), nullable, ni
        if conv in (1, 2) or 2 in logical:  # MAP -> repeated key_value(k, v)
            mid = elems[i + 1]
            if mid.get(3) != 2 or (mid.get(5) or 0) != 2:
                raise NotImplementedError("non-standard MAP layout")
            mr, md_ = r2 + 1, d2 + 1
            mp = p2 + (name_of(mid),)
            kt, _kn, vi = node(i + 2, mr, md_, mp)
            vt, vn, ni = node(vi, mr, md_, mp)
            return (pa.map_(kt, pa.field("value", vt, vn)), nullable, ni)
        if 16 in logical:  # VARIANT group (VariantShredding.md)
            names = [name_of(elems[i + 1 + k]) for k in range(n_children)]
            if "typed_value" in names:
                # SHREDDED: parse the physical layout as a plain struct
                # (metadata/value/typed_value subtree) and record the path;
                # the read path reassembles rows into the unshredded
                # <metadata, value> storage pair afterwards
                variant_shredded.append(p2)
        # plain struct group (or unshredded variant's storage struct, or a
        # legacy repeated element group reached via as_element)
        fields = []
        j = i + 1
        for _ in range(n_children):
            ct, cn, j2 = node(j, r2, d2, p2)
            fields.append(pa.field(name_of(elems[j]), ct, cn))
            j = j2
        return pa.struct(fields), nullable, j

    root = elems[0]
    n_top = root.get(5) or 0
    fields = []
    spans = []
    i = 1
    for _ in range(n_top):
        lo = len(leaves)
        t, nullable, i2 = node(i, 0, 0, ())
        spans.append(range(lo, len(leaves)))
        f = pa.field(name_of(elems[i]), t, nullable)
        i = i2
        # top-level geospatial leaf: carry the annotation as field metadata
        # (pyarrow 16 has no geometry extension type; binary + metadata is
        # the lossless surface)
        if leaves and leaves[-1].get("geo") and leaves[-1]["path"] == f.name:
            g = leaves[-1]["geo"]
            md = {b"PARQUET:logical_type": g["kind"].encode()}
            if g["crs"]:
                md[b"PARQUET:crs"] = g["crs"].encode()
            f = f.with_metadata(md)
        elif (leaves and leaves[-1].get("annotation")
                and leaves[-1]["path"] == f.name):
            f = f.with_metadata(
                {b"PARQUET:logical_type": leaves[-1]["annotation"].encode()})
        fields.append(f)
    return fields, leaves, spans, variant_shredded


def read_footer_native(path: str, kms_unwrap=None):
    """Parse a parquet footer with webcodec's own thrift compact reader.
    Returns ``{"fields": [pa.field...], "leaves": [...], "spans": [...],
    "row_groups": [[_ChunkMeta...]]}`` — everything the nested assembly
    needs, with no pyarrow metadata involvement. Chunk i of every row group
    is schema leaf i (checked: a footer that breaks this raises
    ``ValueError``), and ``spans[k]`` holds the leaf positions of field k.

    Handles the reference's MODULAR ENCRYPTION (parquet-format
    Encryption.md) in both footer modes: PARE files carry
    FileCryptoMetaData + the AES-GCM footer module (decrypted with the
    footer DEK resolved through ``kms_unwrap``); PAR1 files with
    column-encrypted chunks resolve per-column DEKs from
    ColumnCryptoMetaData and decrypt the redacted ColumnMetaData modules.
    Page modules decrypt lazily in the chunk walk. A footer that does not
    parse raises ``ValueError`` naming the file."""
    with open(path, "rb") as f:
        buf = memoryview(f.read())
    try:
        return _parse_footer(path, buf, kms_unwrap)
    except (ValueError, IndexError, KeyError, TypeError, AttributeError,
            OverflowError, struct.error) as e:
        if isinstance(e, ValueError) and path in str(e):
            raise
        raise ValueError(f"unreadable parquet footer in {path}: {e!r}") from e


def _encryption_algorithm(alg) -> tuple[bool, bytes]:
    """(CTR pages?, aad_file_unique) of an EncryptionAlgorithm union: 1 =
    AesGcmV1, 2 = AesGcmCtrV1 (CTR only changes how pages are ciphered)."""
    if not (isinstance(alg, dict) and len(alg) == 1
            and isinstance(alg.get(1, alg.get(2)), dict)):
        raise ValueError(f"malformed encryption algorithm union {alg!r}")
    (arm, fields), = alg.items()
    if fields.get(3):
        raise NotImplementedError("caller-supplied aad_prefix")
    return arm == 2, fields.get(2, b"")


def _parse_footer(path: str, buf: memoryview, kms_unwrap):
    head, tail = bytes(buf[:4]), bytes(buf[-4:])
    footer_gcm = aad_unique = footer_key = None
    ctr_pages = False
    if head == b"PARE" and tail == b"PARE":
        from cryptography.hazmat.primitives.ciphers.aead import AESGCM

        (flen,) = struct.unpack("<I", buf[-8:-4])
        region = len(buf) - 8 - flen
        fcmd, after = _read_struct(buf, region)
        ctr_pages, aad_unique = _encryption_algorithm(fcmd[1])
        footer_key = _keytools_dek(fcmd[2], kms_unwrap)
        footer_gcm = AESGCM(footer_key)
        (mlen,) = struct.unpack_from("<I", buf, after)
        module = bytes(buf[after + 4 : after + 4 + mlen])
        plain = _gcm_decrypt(footer_gcm, module,
                             aad_unique + bytes([_MOD_FOOTER]))
        fmd, _ = _read_struct(memoryview(plain), 0)
    elif head == b"PAR1" and tail == b"PAR1":
        (flen,) = struct.unpack("<I", buf[-8:-4])
        fmd, _ = _read_struct(buf, len(buf) - 8 - flen)
        enc = fmd.get(8)  # plaintext-footer mode: encryption_algorithm set
        if enc is not None:
            from cryptography.hazmat.primitives.ciphers.aead import AESGCM

            ctr_pages, aad_unique = _encryption_algorithm(enc)
            fk_md = fmd.get(9)  # footer_signing_key_metadata
            if fk_md is not None and kms_unwrap is not None:
                footer_key = _keytools_dek(fk_md, kms_unwrap)
                footer_gcm = AESGCM(footer_key)
    else:
        raise ValueError(f"not a parquet file: {path}")
    where = f"corrupt parquet footer in {path}"
    if not (isinstance(fmd.get(2), list) and isinstance(fmd.get(4), list)):
        raise ValueError(f"{where}: FileMetaData lacks its schema or row "
                         "groups")
    fields, leaves, spans, variant_shredded = _parse_schema_tree(fmd[2])
    row_groups = []
    for rg_i, rg in enumerate(fmd[4]):
        if len(rg.get(1, ())) != len(leaves):
            raise ValueError(f"{where}: row group {rg_i} does not hold one "
                             "column chunk per schema leaf")
        # AAD row-group ordinal comes from RowGroup.ordinal (field 7) when
        # written, falling back to the list position (they always agree in
        # practice; the reference reader trusts the field)
        row_groups.append([
            _ChunkMeta(*_chunk_crypto(cc, footer_gcm, aad_unique,
                                      rg.get(7, rg_i), col_i, kms_unwrap,
                                      footer_encrypted=head == b"PARE",
                                      footer_key=footer_key, ctr=ctr_pages),
                       cc=cc, file=path)
            for col_i, cc in enumerate(rg[1])])
        for col_i, (m, lf) in enumerate(zip(row_groups[-1], leaves)):
            if m.path != lf["path"]:
                raise ValueError(
                    f"{where}: row group {rg_i} column {col_i} is "
                    f"{m.path!r}, schema leaf {col_i} is {lf['path']!r}")
    rg_rows = [rg.get(3) for rg in fmd[4]]  # RowGroup.num_rows
    return {"fields": fields, "leaves": leaves, "spans": spans,
            "row_groups": row_groups, "rg_rows": rg_rows, "buf": buf,
            "variant_shredded": variant_shredded}


# --------------------- predicate pruning (interop reader) --------------------
# The read-side D2/D3 analogues applied ACROSS the interop boundary: row
# groups prune on chunk Statistics (min_value/max_value/null_count, field 12)
# and pages prune on ColumnIndex/OffsetIndex — the tiers parquet-java's
# StatisticsFilter + ColumnIndexFilter evaluate. Pruning is always
# conservative (unknown/undecodable stats keep the unit) and
# webcodec.predicate.residual_filter re-applies the predicate exactly after
# decode, so results never depend on stats precision.


def _stat_to_py(raw, t, phys: str):
    """PLAIN-decode one Statistics/ColumnIndex bound into a comparable
    python value, honoring the column's TYPE_ORDER: unsigned annotated ints
    decode in the unsigned domain, strings compare as raw UTF-8 bytes
    (byte-wise unsigned == code-point order). None = unknown (keep)."""
    import pyarrow as pa

    if raw is None or raw == b"":
        return None
    try:
        if phys == "INT32":
            fmt = "<I" if pa.types.is_unsigned_integer(t) else "<i"
            return struct.unpack(fmt, raw[:4])[0]
        if phys == "INT64":
            fmt = "<Q" if pa.types.is_unsigned_integer(t) else "<q"
            return struct.unpack(fmt, raw[:8])[0]
        if phys == "FLOAT":
            v = struct.unpack("<f", raw[:4])[0]
            return None if v != v else v  # NaN bound: unordered, keep
        if phys == "DOUBLE":
            v = struct.unpack("<d", raw[:8])[0]
            return None if v != v else v
        if phys == "BOOLEAN":
            return bool(raw[0])
        if phys in ("BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY"):
            if pa.types.is_decimal(t) or pa.types.is_float16(t):
                return None  # FLBA orders we don't prune on
            return bytes(raw)
    except (struct.error, IndexError):
        return None
    return None  # INT96 and anything else: unknown order


def _canon_one(v, t):
    """Map one predicate value into the column's stat domain; (value, ok)."""
    import pyarrow as pa

    if v is None:
        return None, False
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return (v.encode(), True) if isinstance(v, str) else (None, False)
    if (pa.types.is_binary(t) or pa.types.is_large_binary(t)
            or pa.types.is_fixed_size_binary(t)):
        if isinstance(v, (bytes, bytearray, memoryview)):
            return bytes(v), True
        return None, False
    if pa.types.is_boolean(t):
        return (v, True) if isinstance(v, bool) else (None, False)
    if pa.types.is_integer(t):
        if isinstance(v, bool) or not isinstance(v, int):
            return None, False
        return v, True
    if pa.types.is_floating(t) and not pa.types.is_float16(t):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            return None, False
        f = float(v)
        return (f, True) if f == f else (None, False)  # NaN: unordered
    if pa.types.is_date32(t) or pa.types.is_timestamp(t):
        try:  # stats hold the raw epoch int in the column's unit
            tgt = pa.int32() if pa.types.is_date32(t) else pa.int64()
            return pa.scalar(v, type=t).cast(tgt).as_py(), True
        except (pa.ArrowInvalid, pa.ArrowTypeError, TypeError,
                OverflowError, pa.ArrowNotImplementedError):
            return None, False
    return None, False


def _canon_value(value, op: str, t):
    """Canonicalize a conjunct's value(s) for stat comparison; ok=False
    means the term cannot prune (but is still applied residually)."""
    if op in ("isnull", "notnull"):
        return None, True
    if op == "in":
        vs = []
        for v in value:
            cv, ok = _canon_one(v, t)
            if not ok:
                return None, False
            vs.append(cv)
        return vs, True
    if op in ("startswith", "contains", "endswith"):
        return None, False  # bytes-domain stats can't decide these here
    return _canon_one(value, t)


def _plain_bytes_for_hash(cv, t, phys: str) -> list[bytes] | None:
    """PLAIN encodings of one canonicalized predicate value — every bit
    pattern the writer's bloom may have hashed for values that compare
    equal. Floats return BOTH zero patterns when cv == 0.0 (+0.0 and -0.0
    are IEEE-equal, so a -0.0-only chunk must not be pruned for == 0.0).
    None = not representable in this lane (stats already had their say;
    keep)."""
    import pyarrow as pa

    try:
        if isinstance(cv, bytes):
            return [cv]
        if phys == "INT32":
            fmt = "<I" if pa.types.is_unsigned_integer(t) else "<i"
            return [struct.pack(fmt, cv)]
        if phys == "INT64":
            fmt = "<Q" if pa.types.is_unsigned_integer(t) else "<q"
            return [struct.pack(fmt, cv)]
        if phys == "FLOAT":
            if cv == 0.0:
                return [struct.pack("<f", 0.0), struct.pack("<f", -0.0)]
            return [struct.pack("<f", cv)]
        if phys == "DOUBLE":
            if cv == 0.0:
                return [struct.pack("<d", 0.0), struct.pack("<d", -0.0)]
            return [struct.pack("<d", cv)]
    except (struct.error, OverflowError):
        return None
    return None


def _bloom_might_contain(buf, meta, cv, t, phys: str) -> bool:
    """Probe the chunk's spec split-block bloom filter for one == value (or
    each value of an in-list). Conservative True on any malformed or
    unsupported header (compressed bitsets, non-XXHASH)."""
    from webcodec.kernels import bloom as _bloom
    from webcodec.kernels.xxh import xxh64_scalar

    try:
        hdr, pos = _read_struct(buf, meta.bloom_offset)
        nbytes = hdr.get(1)
        # unions: algorithm BLOCK(1), hash XXHASH(1), compression
        # UNCOMPRESSED(1) — anything else we can't evaluate
        if (nbytes is None or nbytes <= 0 or nbytes % 32
                or 1 not in hdr.get(2, {}) or 1 not in hdr.get(3, {})
                or 1 not in hdr.get(4, {})):
            return True
        bitset = bytes(buf[pos:pos + nbytes])
        if len(bitset) < nbytes:
            return True
    except (NotImplementedError, ValueError, IndexError, struct.error):
        return True
    values = cv if isinstance(cv, list) else [cv]
    for v in values:
        pbs = _plain_bytes_for_hash(v, t, phys)
        if pbs is None:
            return True
        for pb in pbs:
            if _bloom.spec_might_contain(bitset, xxh64_scalar(pb)):
                return True
    return False


def _rg_may_match(rg: list, conj: list, by_name: dict, leaf_info: dict,
                  n_rows: int, buf=None) -> bool:
    from webcodec import predicate as _pred

    for col, op, value in conj:
        meta = next(m for m in rg if m.path == col)
        t = by_name[col].type
        cv, ok = _canon_value(value, op, t)
        if not ok:
            continue
        phys = leaf_info[col]["phys"]
        if meta.statistics is not None:
            st = {"min": _stat_to_py(meta.statistics["min_value"], t, phys),
                  "max": _stat_to_py(meta.statistics["max_value"], t, phys),
                  "null_count": meta.statistics["null_count"]}
            if not _pred.term_matches(st, op, cv, None, n_rows):
                return False
        if (op in ("==", "in") and buf is not None
                and meta.bloom_offset is not None and meta.crypto is None
                and not _bloom_might_contain(buf, meta, cv, t, phys)):
            return False  # definite miss: no page of this group can match
    return True


def _parse_offset_index(buf, meta):
    """[(offset, compressed_size, first_row_index)] per data page."""
    st, _ = _read_struct(buf, meta.offset_index_offset)
    return [(pl[1], pl[2], pl[3]) for pl in st[1]]


def _data_pages(buf, meta, n_rows):
    """(offsets, sizes, first rows) of the chunk's data pages from its
    OffsetIndex. None when there is no usable index: encrypted (page AAD
    ordinals run from the chunk start), absent, unparseable, or
    inconsistent (first rows not starting at 0 or not strictly increasing
    below ``n_rows``; pages not back to back over the chunk's data
    pages)."""
    if meta.crypto is not None or meta.offset_index_offset is None:
        return None
    try:
        off, size, first = np.array(_parse_offset_index(buf, meta),
                                    np.int64).reshape(-1, 3).T
    except (NotImplementedError, ValueError, IndexError, KeyError,
            TypeError, OverflowError, struct.error):
        return None
    end = (meta.data_page_offset if meta.dictionary_page_offset is None
           else meta.dictionary_page_offset) + meta.total_compressed_size
    if (not len(first) or first[0] != 0
            or (np.diff(first, append=n_rows) <= 0).any()
            or off[0] != meta.data_page_offset or (size <= 0).any()
            or (off[1:] != off[:-1] + size[:-1]).any()
            or off[-1] + size[-1] != end):
        return None
    return off, size, first


def _rg_row_mask(buf, rg, conj, by_name, leaf_info, n_rows):
    """Page tier: ColumnIndex bounds of each FILTER column -> boolean mask
    of the rows this row group may keep. None = no usable page info or
    every row kept (decode everything)."""
    from webcodec import predicate as _pred

    kept = None
    for col, op, value in conj:
        meta = next(m for m in rg if m.path == col)
        t = by_name[col].type
        cv, ok = _canon_value(value, op, t)
        pages = _data_pages(buf, meta, n_rows) if ok else None
        if pages is None or meta.column_index_offset is None:
            continue
        try:
            ci, _ = _read_struct(buf, meta.column_index_offset)
        except (NotImplementedError, ValueError, IndexError, KeyError,
                struct.error):
            continue  # unparseable index: ignore, stay conservative
        firsts = pages[2].tolist()
        null_pages = ci.get(1)
        mins, maxs = ci.get(2), ci.get(3)
        if (null_pages is None or mins is None or maxs is None
                or not (len(null_pages) == len(mins) == len(maxs)
                        == len(firsts))):
            continue  # malformed index pair: ignore, stay conservative
        ends = firsts[1:] + [n_rows]
        ncs = ci.get(5)
        phys = leaf_info[col]["phys"]
        col_kept = np.zeros(n_rows, bool)
        for i in range(len(firsts)):
            pr = ends[i] - firsts[i]
            if null_pages[i]:
                st = {"min": None, "max": None, "null_count": pr}
            else:
                st = {"min": _stat_to_py(mins[i], t, phys),
                      "max": _stat_to_py(maxs[i], t, phys),
                      "null_count": ncs[i] if ncs else None}
            col_kept[firsts[i]:ends[i]] = _pred.term_matches(
                st, op, cv, None, pr)
        kept = col_kept if kept is None else kept & col_kept
    return None if kept is None or kept.all() else kept


def _decode_dict_at(buf, meta, phys: str, tlen: int,
                    verify_crc: bool = False):
    """Decode ONLY the chunk's dictionary page (unencrypted path)."""
    off = meta.dictionary_page_offset
    header, pos = _page_header(buf, off, meta, off)
    if header[1] != _PAGE_DICT:
        raise ValueError(f"{_page_where(meta, off)} is not a dictionary page")
    usize, csize = header[2], header[3]
    raw = buf[pos:pos + csize]
    if verify_crc and header.get(4) is not None:
        import zlib

        if zlib.crc32(bytes(raw)) != header[4] % (1 << 32):
            raise ValueError(
                f"page CRC mismatch in chunk {meta.path!r}: the "
                "compressed dictionary page bytes are corrupt")
    body = memoryview(_decompress(bytes(raw), meta.compression, usize,
                                  meta, off))
    return _plain_values(body, header[7][1], phys, tlen)


def _page_runs(buf, meta, kept):
    """[(byte offset, byte length, first row, end row)] of each run of
    consecutive data pages holding a ``kept`` row; None without a usable
    OffsetIndex (``_data_pages``)."""
    pages = _data_pages(buf, meta, len(kept))
    if pages is None:
        return None
    off, size, first = pages
    hit = np.logical_or.reduceat(kept, first).astype(np.int8)
    edges = np.flatnonzero(np.diff(hit, prepend=0, append=0))
    ends = np.append(first[1:], len(kept))
    return [(int(off[a]), int(off[b - 1] + size[b - 1] - off[a]),
             int(first[a]), int(ends[b - 1]))
            for a, b in zip(edges[0::2], edges[1::2])]


def _entry_rows(vals, reps, defs) -> np.ndarray:
    """Row of each decoded entry, counted from the first: cumsum(rep == 0)
    - 1 (-1 for entries before the first row start), or the entry index of
    a flat leaf."""
    if reps is not None:
        return np.cumsum(reps == 0) - 1
    return np.arange(len(defs) if defs is not None else len(vals))


def _leaf_stream(buf, meta, lf, kept, verify_crc: bool = False):
    """The one per-leaf read: one leaf chunk -> its ``{"vals", "rep",
    "def"}`` entry stream for ``dremel.assemble``, holding only the rows
    set in the boolean row mask ``kept`` (None keeps every row).

    Page runs: with a mask and a usable OffsetIndex (``_page_runs``) only
    the runs of pages holding a kept row decode, the dictionary page
    injected; otherwise the whole chunk is one run. Parquet starts pages at
    row boundaries when an OffsetIndex is present, so a run that does not
    start at rep 0, or whose decoded rows differ from its index span, is
    corrupt: the leaf drops back to the whole-chunk run. Trim: entries map
    to rows through ``_entry_rows`` and values follow their entries through
    def == max_def."""
    import types as _types

    import pyarrow as pa

    phys, max_rep, max_def = lf["phys"], lf["max_rep"], lf["max_def"]
    kw = {"type_length": lf["tlen"], "verify_crc": verify_crc}
    runs = _page_runs(buf, meta, kept) if kept is not None else None
    dict_values = (_decode_dict_at(buf, meta, phys, lf["tlen"], verify_crc)
                   if runs and meta.dictionary_page_offset is not None
                   else None)
    decoded = []  # (vals, reps, defs, rows) per run
    for off, size, first, last in runs or ():
        run = _types.SimpleNamespace(
            compression=meta.compression, dictionary_page_offset=None,
            data_page_offset=off, total_compressed_size=size,
            num_values=meta.num_values if max_rep else last - first,
            crypto=None, path=meta.path, file=meta.file)
        vals, reps, defs = _read_leaf_entries(
            buf, run, phys, max_rep, max_def, dict_values=dict_values, **kw)
        rows = first + _entry_rows(vals, reps, defs)
        if not len(rows) or rows[0] != first or rows[-1] != last - 1:
            decoded = []  # the index disagrees with these pages
            break
        decoded.append((vals, reps, defs, rows))
    if not decoded:
        vals, reps, defs = _read_leaf_entries(buf, meta, phys, max_rep,
                                              max_def, **kw)
        rows = None if kept is None else _entry_rows(vals, reps, defs)
        if rows is not None and len(rows) and (
                rows[0] != 0 or rows[-1] != len(kept) - 1):
            raise ValueError(f"column chunk {meta.path!r} holds "
                             f"{rows[-1] + 1} rows, its row group "
                             f"{len(kept)}")
        decoded = [(vals, reps, defs, rows)]
    if len(decoded) == 1:
        vals, reps, defs, rows = decoded[0]
    else:
        vs, rs, ds, rows = zip(*decoded)
        vals = (_concat_binary(list(vs)) if isinstance(vs[0], pa.Array)
                else np.concatenate(vs))
        reps = None if rs[0] is None else np.concatenate(rs)
        defs = None if ds[0] is None else np.concatenate(ds)
        rows = np.concatenate(rows)
    if kept is not None:
        keep = kept[rows]
        kept_vals = keep if defs is None else keep[defs == max_def]
        vals = (vals.filter(pa.array(kept_vals)) if isinstance(vals, pa.Array)
                else vals[kept_vals])
        reps = None if reps is None else reps[keep]
        defs = None if defs is None else defs[keep]
    if defs is None:  # required flat leaf: synthesize def 0s
        defs = np.zeros(len(vals), np.int64)
    return {"vals": vals, "rep": reps, "def": defs}


@contextlib.contextmanager
def _located(path: str, where: str):
    """Page data a damaged footer mis-describes fails in the kernels or in
    Arrow's own checks; re-raise such a ``ValueError`` (``ArrowInvalid``
    included) naming the file and ``where`` in it."""
    try:
        yield
    except ValueError as e:
        if path in str(e):
            raise
        raise ValueError(f"{path}: {where}: {e}") from e


def read_table_arrow_native(path: str, columns: list[str] | None = None,
                            kms_unwrap=None, filters=None,
                            verify_checksums: bool = False):
    """The parquet reader: every (possibly nested) column of every row
    group, assembled by webcodec kernels into one arrow Table, with ZERO
    pyarrow-metadata involvement: footer thrift, page headers, levels and
    values all decoded by webcodec code; pyarrow is used only to hold the
    output arrays. Reads VARIANT-annotated exports
    (webcodec.parquet_writer ``variant_columns``) that pyarrow's own thrift
    layer rejects — variant columns come back as their storage struct
    <value, metadata>, shredded variants reassembled.

    ``filters`` is a conjunction of ``(column, op, value)`` triples over
    flat top-level columns (webcodec.predicate ops: ==, <, <=, >, >=, in,
    isnull, notnull, startswith, contains, endswith). Row groups prune on
    chunk Statistics and bloom filters, and the filter columns' ColumnIndex
    bounds narrow each group to a mask of the rows their pages may hold.
    Every projected leaf, flat or nested, then decodes only its pages that
    hold a masked row (``_leaf_stream``), and the predicate re-applies
    exactly after assembly — same result as pyarrow reading the whole file and
    filtering in memory, touching fewer bytes.

    Damaged files raise ``ValueError`` naming the file: a footer that does
    not parse, a page header that does not parse and a page the codec
    rejects (these also name the column path and page offset), and page
    data the kernels or the Arrow assembly reject (also the column and row
    group). Layouts this
    reader does not implement raise ``NotImplementedError``. A footer has
    no checksum, though, so a damaged footer that still parses and agrees
    with itself — a renamed field, another type length or logical type —
    describes other data, and the read returns what it describes."""
    import pyarrow as pa

    from webcodec import predicate as _pred

    conj = _pred.normalize(filters)
    ft = read_footer_native(path, kms_unwrap=kms_unwrap)
    buf = ft["buf"]
    by_name = {f.name: f for f in ft["fields"]}
    leaf_info = {lf["path"]: lf for lf in ft["leaves"]}
    names = columns or [f.name for f in ft["fields"]]
    read_names = list(names)
    if conj:
        for col, _, _ in conj:
            if col not in by_name:
                raise KeyError(f"filter column {col!r} not in schema")
            if col not in leaf_info or leaf_info[col]["max_rep"] != 0:
                raise ValueError(
                    f"filters support flat top-level columns; {col!r} "
                    "is nested")
            if col not in read_names:
                read_names.append(col)
    groups: list[tuple[list, np.ndarray | None]] = []  # (chunks, row mask)
    for rg_i, rg in enumerate(ft["row_groups"]):
        n_rows = ft["rg_rows"][rg_i]
        if n_rows is None:  # RowGroup.num_rows absent: flat leaf count
            n_rows = next((m.num_values for m in rg
                           if leaf_info[m.path]["max_rep"] == 0), 0)
        rows = None
        if conj:
            if not _rg_may_match(rg, conj, by_name, leaf_info, n_rows,
                                 buf=buf):
                continue
            rows = _rg_row_mask(buf, rg, conj, by_name, leaf_info, n_rows)
            if rows is not None and not rows.any():
                continue
        groups.append((rg_i, rg, rows))

    span = {f.name: sp for f, sp in zip(ft["fields"], ft["spans"])}
    cols = {}
    for name in read_names:
        field = by_name[name]
        parts = []
        for rg_i, rg, rows in groups:
            with _located(path, f"column {name!r}, row group {rg_i}"):
                parts.append(dremel.assemble(field.type, [
                    _leaf_stream(buf, rg[i], ft["leaves"][i], rows,
                                 verify_crc=verify_checksums)
                    for i in span[name]], _leaf_arrow, field.nullable))
        cols[name] = (parts[0] if len(parts) == 1
                      else pa.concat_arrays(parts) if parts
                      else pa.array([], type=field.type))
    for vp in ft.get("variant_shredded", ()):
        if vp[0] in cols:  # reassemble shredded VARIANT storage
            from . import variant_shred

            arr = variant_shred.unshred(cols[vp[0]], vp[1:])
            cols[vp[0]] = arr
            f = by_name[vp[0]]
            by_name[vp[0]] = pa.field(f.name, arr.type, f.nullable,
                                      f.metadata)
    # carry per-field nullability/metadata (pa.table(dict) would default
    # every field to nullable, diverging from pyarrow on required columns)
    with _located(path, "table assembly"):
        tbl = pa.table(cols, schema=pa.schema([by_name[n] for n in read_names]))
    if conj:
        tbl = _pred.residual_filter(tbl, conj)
        if read_names != names:  # filter-only columns drop from the output
            tbl = tbl.select(names)
    return tbl
