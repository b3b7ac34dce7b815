"""FSST — Fast Static Symbol Table string compression.

Not present in the reference format (SURVEY.md §2.A12: parquet-java's Encoding
enum has no FSST); mandated as our extension by BASELINE.json north_star.
Public knowledge source: Boncz, Neumann, Muehleisen, "FSST: Fast Random Access
String Compression", VLDB 2020 (used by DuckDB / BtrBlocks).

Design (simplified but faithful):
- symbol table: <= 255 symbols of 1..8 bytes, at most one symbol of >= 3
  bytes per 2-byte prefix; code 255 is the escape marker (escape = 0xFF +
  literal byte, 2 bytes).
- token walk: exact greedy longest match. The prefix restriction resolves
  the longest match at every position with direct lookups on the 2-byte
  window; the walk itself is pointer doubling to anchors plus a lockstep
  chain advance. The encoder and the table builder share it.
- build: iterative greedy counting over a small sample (<= 5 iterations,
  sample <= 16 KiB). Each round walks the sample with the current table and
  ranks tokens and adjacent pairs by gain (count x length); keys are
  (little-endian u64 value, length), grouped with a stable lexsort.
- encode: the token walk over 128 KiB segments, then one scatter of codes
  and escapes.
- decode: escape markers located with a run-parity trick over 0xFF runs,
  then one Arrow ``take`` over a 512-entry dictionary (the symbols, padding
  to 256, then the 256 literal bytes); the taken array's data buffer is the
  decoded output.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa

MAX_SYMBOLS = 255  # code 255 reserved as escape
MAX_SYMBOL_LEN = 8
ESCAPE = 255

_LITERALS = [bytes([b]) for b in range(256)]


class SymbolTable:
    __slots__ = ("symbols", "_regex", "_enc_luts", "_dec_dict")

    def __init__(self, symbols: list[bytes]):
        assert len(symbols) <= MAX_SYMBOLS
        self.symbols = symbols
        self._regex = None
        self._enc_luts = None
        self._dec_dict = None

    def serialize(self) -> bytes:
        out = bytearray([len(self.symbols)])
        for s in self.symbols:
            out.append(len(s))
            out += s
        return bytes(out)

    @classmethod
    def deserialize(cls, data: bytes | memoryview) -> tuple["SymbolTable", int]:
        buf = memoryview(data)
        if not len(buf):
            raise ValueError("FSST symbol table: empty")
        pos = 1
        symbols = []
        for _ in range(buf[0]):  # a count byte is <= 255 = MAX_SYMBOLS
            ln = buf[pos] if pos < len(buf) else 0
            if not 1 <= ln <= MAX_SYMBOL_LEN or pos + 1 + ln > len(buf):
                raise ValueError(f"FSST symbol table: bad symbol at byte {pos}")
            symbols.append(bytes(buf[pos + 1 : pos + 1 + ln]))
            pos += 1 + ln
        return cls(symbols), pos


def _regex(table: SymbolTable):
    """(alternation regex ordered by symbol length, symbol -> code map),
    compiled on first use: only the scalar encoder and the tokenizing of
    tiny build samples need it."""
    if table._regex is None:
        syms = table.symbols
        ordered = sorted(range(len(syms)), key=lambda i: -len(syms[i]))
        pat = b"|".join(re.escape(syms[i]) for i in ordered)
        pat = (pat + b"|" if pat else b"") + b"(?s:.)"
        table._regex = (re.compile(pat), {s: bytes([i]) for i, s in enumerate(syms)})
    return table._regex


def _dedupe_prefixes(ranked: list[bytes]) -> list[bytes]:
    """Keep at most ONE symbol of length >= 3 per 2-byte prefix (FSST-paper
    style restriction) so the vectorized encoder resolves longest-match with
    direct table lookups while staying exact greedy w.r.t. this table."""
    out: list[bytes] = []
    seen_long: set[bytes] = set()
    for s in ranked:
        if len(s) >= 3:
            p = s[:2]
            if p in seen_long:
                continue
            seen_long.add(p)
        out.append(s)
        if len(out) >= MAX_SYMBOLS:
            break
    return out


def cap_symbols(table: "SymbolTable", cap: int) -> "SymbolTable":
    """Variant table with symbols truncated to ``cap`` bytes (deduped, order
    kept). Shorter symbols can yield a more regular code stream that the page
    codec compresses better — the chunk trial picks empirically."""
    return SymbolTable(list(dict.fromkeys(s[:cap] for s in table.symbols))[:MAX_SYMBOLS])


def _padded(data: bytes) -> tuple[np.ndarray, np.ndarray]:
    """(bytes as u8, the same with 8 zero bytes after) — window loads past
    the end read the padding."""
    raw = np.frombuffer(data, dtype=np.uint8)
    padded = np.zeros(len(raw) + 8, dtype=np.uint8)
    padded[: len(raw)] = raw
    return raw, padded


_LEN_MASK = np.array([0] + [(1 << (8 * k)) - 1 for k in range(1, MAX_SYMBOL_LEN + 1)], dtype=np.uint64)


def _ranked_gains(padded: np.ndarray, tok: np.ndarray, tlen: np.ndarray, limit: int) -> list[bytes]:
    """The ``limit`` best keys among tokens and adjacent token pairs of at
    most 8 bytes, by gain (occurrences x length), ties by first occurrence
    with tokens before pairs — ``Counter.most_common`` order over a counter
    filled with all tokens, then all pairs."""
    val = padded[tok[:, None] + np.arange(8)].view("<u8").reshape(-1) & _LEN_MASK[tlen]
    plen = tlen[:-1] + tlen[1:]
    ok = np.flatnonzero(plen <= MAX_SYMBOL_LEN)
    pval = val[ok] | (val[ok + 1] << (tlen[ok].astype(np.uint64) * np.uint64(8)))
    kval = np.concatenate((val, pval))
    klen = np.concatenate((tlen, plen[ok]))
    perm = np.lexsort((klen, kval))  # stable: each group lists its first occurrence first
    sval, slen = kval[perm], klen[perm]
    new = np.empty(len(perm), dtype=bool)
    new[:1] = True
    np.not_equal(sval[1:], sval[:-1], out=new[1:])
    new[1:] |= slen[1:] != slen[:-1]
    start = np.flatnonzero(new)
    gain = np.diff(np.append(start, len(perm))) * slen[start]
    best = np.lexsort((perm[start], -gain))[:limit]
    return [
        v.to_bytes(ln, "little")
        for v, ln in zip(sval[start[best]].tolist(), slen[start[best]].tolist())
    ]


# Samples shorter than this are tokenized by the regex, which finds the same
# tokens as the walk: there its compile costs less than the walk's fixed
# cost (lookup tables, ~50 numpy calls). Measured per 4-round build on web
# text, walk vs cold regex: 64 B 3.3 vs 2.4 ms, 256 B 3.5 vs 4.0 ms.
_BUILD_WALK_MIN = 256


def build_table(sample: bytes, iterations: int = 5) -> SymbolTable:
    """Iterative greedy symbol-table construction on a sample."""
    if not sample:
        return SymbolTable([])
    # iteration 0: frequent single bytes
    counts = np.bincount(np.frombuffer(sample, dtype=np.uint8), minlength=256)
    order = np.argsort(-counts)
    symbols = [bytes([int(b)]) for b in order if counts[b] > 0][:MAX_SYMBOLS]
    table = SymbolTable(symbols)
    raw, padded = _padded(sample)
    for _ in range(iterations - 1):
        if len(sample) < _BUILD_WALK_MIN:
            tlen = np.fromiter(map(len, _regex(table)[0].findall(sample)), dtype=np.uint8)
            tok = np.cumsum(tlen, dtype=np.intp) - tlen
        else:
            tok, tlen, _ = _walk(raw, padded, table)
            np.maximum(tlen, 1, out=tlen)  # an escaped byte is a 1-byte token
        table = SymbolTable(_dedupe_prefixes(_ranked_gains(padded, tok, tlen, MAX_SYMBOLS * 4)))
    return table


def encode_regex(data: bytes, table: SymbolTable) -> bytes:
    """Reference scalar encode (used for differential tests and tiny inputs)."""
    pattern, sub_map = _regex(table)

    def repl(m: re.Match) -> bytes:
        s = m.group(0)
        code = sub_map.get(s)
        return code if code is not None else b"\xff" + s

    return pattern.sub(repl, data)


_CHASE_STRIDE = 16  # anchor spacing for the vectorized greedy chase
# (measured sweep on the text corpus: 16 edges out 32 — one fewer full
# pointer-doubling gather buys more than the 2x-longer anchor walk costs)

_POS_CACHE = np.empty(0, dtype=np.int32)


def _pos(n: int) -> np.ndarray:
    """Process-cached arange — avoids refilling a 4n-byte buffer per segment."""
    global _POS_CACHE
    if len(_POS_CACHE) < n:
        _POS_CACHE = np.arange(max(n, _SEGMENT), dtype=np.int32)
    return _POS_CACHE[:n]


def _encode_luts(table: "SymbolTable"):
    """Per-table lookup tables, built once and cached on the table. Indexed
    by the 2-byte window: the unique >= 3-byte candidate's low-dword key and
    mask (key 1 under mask 0 when there is none: never matches), length and
    code; the fallback's length (2-byte symbol, else the first byte's 1-byte
    symbol, else 0 = escape) and code. Indexed by byte: the 1-byte symbol's
    length and code (the last position of a segment has no second byte).
    Indexed by code: the high-dword key and mask."""
    if table._enc_luts is not None:
        return table._enc_luts
    syms = table.symbols
    lens = np.array([len(x) for x in syms], dtype=np.uint8)
    vals = np.frombuffer(b"".join(x.ljust(8, b"\0") for x in syms), dtype="<u8")
    codes = np.arange(len(syms), dtype=np.uint8)
    w = (vals & np.uint64(0xFFFF)).astype(np.intp)

    one_len = np.zeros(256, dtype=np.uint8)
    one_code = np.full(256, ESCAPE, dtype=np.uint8)
    one = lens == 1
    one_len[w[one]] = 1
    one_code[w[one]] = codes[one]
    fb_len = np.tile(one_len, 256)  # window w2 = first byte | second byte << 8
    fb_code = np.tile(one_code, 256)
    two = lens == 2
    fb_len[w[two]] = 2
    fb_code[w[two]] = codes[two]

    lg = lens >= 3
    long_key = np.ones(65536, dtype=np.uint32)
    long_mask = np.zeros(65536, dtype=np.uint32)
    long_len = np.zeros(65536, dtype=np.uint8)
    long_code = np.full(65536, ESCAPE, dtype=np.uint8)
    long_key[w[lg]] = vals[lg] & np.uint64(0xFFFFFFFF)
    long_mask[w[lg]] = _LEN_MASK[lens[lg]] & np.uint64(0xFFFFFFFF)
    long_len[w[lg]] = lens[lg]
    long_code[w[lg]] = codes[lg]
    key_hi = (vals >> np.uint64(32)).astype(np.uint32)
    mask_hi = (_LEN_MASK[lens] >> np.uint64(32)).astype(np.uint32)
    out = (long_key, long_mask, long_len, long_code, fb_len, fb_code, one_len, one_code, key_hi, mask_hi)
    table._enc_luts = out
    return out


def _walk(raw: np.ndarray, padded: np.ndarray, table: SymbolTable):
    """Exact greedy longest-match token walk of ``raw`` (non-empty) against
    the prefix-restricted ``table``.

    Because every table keeps at most one >=3-byte symbol per 2-byte prefix,
    longest-match at a position is resolved with direct lookups on its
    2-byte window: the unique long candidate (verified against its key — low
    4 bytes everywhere, high bytes on the surviving subset only), else the
    2-byte symbol, else the 1-byte symbol, else escape. The greedy token walk
    is vectorized with pointer doubling to stride-S anchors + lockstep chain
    advance. Returns (token positions, token match lengths — 0 for an
    escaped byte, token codes — ESCAPE for an escaped byte).
    """
    n = len(raw)
    (long_key, long_mask, long_len, long_code, fb_len, fb_code, one_len, one_code,
     key_hi, mask_hi) = _encode_luts(table)

    # contiguous windows via shift-or of aligned loads (no unaligned views)
    w2 = raw.astype(np.uint16)
    w2 |= padded[1 : n + 1].astype(np.uint16) << np.uint16(8)
    w2i = w2.astype(np.intp)  # one cast, reused by all 64K-table gathers
    w4 = w2.astype(np.uint32)
    w4 |= padded[2 : n + 2].astype(np.uint32) << np.uint32(16)
    w4 |= padded[3 : n + 3].astype(np.uint32) << np.uint32(24)

    cl = long_len[w2i]
    pos = _pos(n)
    long_hit = (w4 & long_mask[w2i]) == long_key[w2i]
    # a match may not run past the end — only the last 8 positions can,
    # so fix them up instead of paying a full-array compare
    tail = max(n - MAX_SYMBOL_LEN, 0)
    long_hit[tail:] &= pos[tail:] + cl[tail:] <= n
    # high-dword verify only where the low dword already matched a >4-byte symbol
    sub = np.flatnonzero(long_hit & (cl > 4))
    if len(sub):
        w4h = padded[sub + 4].astype(np.uint32)
        w4h |= padded[sub + 5].astype(np.uint32) << np.uint32(8)
        w4h |= padded[sub + 6].astype(np.uint32) << np.uint32(16)
        w4h |= padded[sub + 7].astype(np.uint32) << np.uint32(24)
        ci = long_code[w2i[sub]]
        long_hit[sub[(w4h & mask_hi[ci]) != key_hi[ci]]] = False

    best_len = fb_len[w2i]
    best_len[-1] = one_len[raw[-1]]  # its window's second byte is padding
    np.putmask(best_len, long_hit, cl)

    # jump table with sentinel at n (escape advances 1; no match runs past n)
    j1 = np.empty(n + 1, dtype=np.int32)
    j1[n] = n
    np.add(pos, np.maximum(best_len, 1), out=j1[:n])
    # pointer doubling with np.take(out=) ping-pong buffers: the naive
    # js = js[js] allocates a fresh n-array per round (~9% of segment wall)
    js = j1.copy()  # j1 itself feeds the chain advance below
    tmp = np.empty_like(js)
    s = 1
    while s < _CHASE_STRIDE:
        np.take(js, js, out=tmp)
        js, tmp = tmp, js
        s *= 2
    anchors = [0]
    a = 0
    jv = memoryview(js)  # plain-int item reads
    while True:
        a = jv[a]
        if a >= n:
            break
        anchors.append(a)
    A = np.array(anchors, dtype=np.int32)
    chains = np.empty((_CHASE_STRIDE, len(A)), dtype=np.int32)
    chains[0] = A
    for t in range(1, _CHASE_STRIDE):
        chains[t] = j1[chains[t - 1]]
    tok = chains.T.reshape(-1)
    tok = tok[tok < n].astype(np.intp)

    # per-token codes (subset gathers only)
    w2t = w2i[tok]
    code = np.where(long_hit[tok], long_code[w2t], fb_code[w2t])
    if tok[-1] == n - 1:  # no long symbol fits there
        code[-1] = one_code[raw[-1]]
    return tok, best_len[tok], code


# Segment size: smaller segments keep ~15 temporaries cache/allocator-warm.
# Measured sweep (text corpus, single thread): 1MB=15.3, 256KB=18.4, 128KB=20.2 MB/s
# with +0.02% size; below 64KB fixed costs win again.
_SEGMENT = 128 << 10


def encode(data: bytes, table: SymbolTable) -> bytes:
    """Segmented vectorized encode. Segment concatenation is exact: codes are
    position-independent against a static table, so restarting the greedy
    walk at a boundary yields a valid (at most one-token different) stream."""
    if len(data) <= _SEGMENT + (_SEGMENT >> 2):
        return _encode_segment(data, table)
    parts = []
    for s in range(0, len(data), _SEGMENT):
        parts.append(_encode_segment(data[s : s + _SEGMENT], table))
    return b"".join(parts)


def _encode_segment(data: bytes, table: SymbolTable) -> bytes:
    """The token walk (see :func:`_walk`), then codes and escapes emitted
    with one cumsum scatter."""
    n = len(data)
    if n == 0:
        return b""
    if n < 4096 or not table.symbols:
        return encode_regex(data, table)
    raw, padded = _padded(data)
    tok, tlen, code = _walk(raw, padded, table)
    esc = tlen == 0
    out_off = np.empty(len(tok), dtype=np.int64)
    out_off[0] = 0
    np.cumsum(esc[:-1].astype(np.int64) + 1, out=out_off[1:])
    outb = np.empty(int(out_off[-1]) + 1 + int(esc[-1]), dtype=np.uint8)
    outb[out_off] = code
    esc_idx = np.flatnonzero(esc)
    if len(esc_idx):
        outb[out_off[esc_idx] + 1] = raw[tok[esc_idx]]
    return outb.tobytes()


def _decode_dict(table: SymbolTable) -> pa.Array:
    """512 entries: the symbols, empty up to code 255, then the 256 literal
    bytes (index 256 + b decodes the escape of byte b)."""
    if table._dec_dict is None:
        syms = table.symbols
        table._dec_dict = pa.array(syms + [b""] * (256 - len(syms)) + _LITERALS, type=pa.binary())
    return table._dec_dict


# tokens per take: at most 8 bytes each keeps a take's int32 offsets in range
_TAKE_STEP = 1 << 27


def decode(data: bytes | memoryview, table: SymbolTable) -> bytes:
    """Vectorized decode (no per-token Python). A code past the table or an
    escape without its literal raises ``ValueError``."""
    codes = np.frombuffer(data, dtype=np.uint8)
    n = len(codes)
    if n == 0:
        return b""
    is_esc = codes == ESCAPE
    if is_esc.any():
        # runs of consecutive 0xFF: markers at even offsets within each run
        flat = is_esc.view(np.uint8)
        change = np.flatnonzero(flat[1:] != flat[:-1]) + 1
        starts = np.concatenate(([0], change))
        rlens = np.diff(np.concatenate((starts, [n])))
        esc_runs = flat[starts] == 1
        rs, rl = starts[esc_runs], rlens[esc_runs]
        mcounts = (rl + 1) // 2
        total_m = int(mcounts.sum())
        base = np.repeat(rs, mcounts)
        prev = np.concatenate(([0], np.cumsum(mcounts[:-1]))) if len(mcounts) else np.empty(0, np.int64)
        within = np.arange(total_m, dtype=np.int64) - np.repeat(prev, mcounts)
        markers = base + 2 * within
        if total_m and markers[-1] + 1 >= n:
            raise ValueError("truncated FSST escape at end of stream")
        # index: the code at a token, 256 + the literal at a marker; the
        # literal's own position is dropped
        idx = codes.astype(np.uint16)
        idx[markers] = codes[markers + 1] + np.uint16(256)
        idx = np.delete(idx, markers + 1)
        bad = len(table.symbols) < MAX_SYMBOLS and bool(
            ((idx >= len(table.symbols)) & (idx < 256)).any())
    else:
        idx = codes
        bad = int(codes.max()) >= len(table.symbols)
    if bad:
        raise ValueError("FSST code outside the symbol table")
    dictionary = _decode_dict(table)
    parts = []
    for s in range(0, len(idx), _TAKE_STEP):
        out = dictionary.take(pa.array(idx[s : s + _TAKE_STEP]))
        end = int(np.frombuffer(out.buffers()[1], dtype=np.int32, count=len(out) + 1)[-1])
        parts.append(out.buffers()[2][:end])
    return parts[0].to_pybytes() if len(parts) == 1 else b"".join(parts)


# -- page-level helpers --------------------------------------------------------


def compress(data: bytes, sample_bytes: int = 1 << 14, table: SymbolTable | None = None) -> bytes:
    """Self-contained blob: serialized table + u64 payload len + encoded bytes.

    Pass a prebuilt ``table`` to amortize table construction across the pages
    of one column chunk (the reference builds its dictionary per chunk too).
    """
    if table is None:
        table = build_table(data[:sample_bytes])
    enc = encode(data, table)
    head = table.serialize()
    return len(head).to_bytes(4, "little") + head + len(enc).to_bytes(8, "little") + enc


def decompress(blob: bytes | memoryview) -> bytes:
    """Inverse of :func:`compress`. A blob whose lengths, table or codes do
    not fit raises ``ValueError``."""
    buf = memoryview(blob)
    hlen = int.from_bytes(buf[:4], "little")
    pos = 4 + hlen
    if len(buf) < pos + 8:
        raise ValueError("truncated FSST blob header")
    table, used = SymbolTable.deserialize(buf[4:pos])
    if used != hlen:
        raise ValueError("FSST symbol table length mismatch")
    elen = int.from_bytes(buf[pos : pos + 8], "little")
    pos += 8
    if elen > len(buf) - pos:
        raise ValueError("truncated FSST payload")
    return decode(buf[pos : pos + elen], table)
