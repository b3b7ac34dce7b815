"""FSST kernels against frozen references, and the hostile-bytes contract.

The frozen copies below are the earlier implementations: the table builder
that counted regex tokens in a ``Counter``, and the decoder that expanded
every token into a (tokens x 8) byte matrix. The fuzz family draws seeded
inputs and asserts that today's kernels produce the same tables and bytes.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np
import pytest

from webcodec.kernels import fsst
from webcodec.kernels.fsst import MAX_SYMBOL_LEN, MAX_SYMBOLS, SymbolTable

_SEG = fsst._SEGMENT


# -- frozen references ---------------------------------------------------------


def _frozen_pattern(symbols: list[bytes]) -> re.Pattern:
    ordered = sorted(range(len(symbols)), key=lambda i: -len(symbols[i]))
    pat = b"|".join(re.escape(symbols[i]) for i in ordered)
    return re.compile((pat + b"|" if pat else b"") + b"(?s:.)")


def _frozen_dedupe_prefixes(ranked: list[bytes]) -> list[bytes]:
    out: list[bytes] = []
    seen_long: set[bytes] = set()
    for s in ranked:
        if len(s) >= 3:
            if s[:2] in seen_long:
                continue
            seen_long.add(s[:2])
        out.append(s)
        if len(out) >= MAX_SYMBOLS:
            break
    return out


def _frozen_build_table(sample: bytes, iterations: int = 5) -> list[bytes]:
    if not sample:
        return []
    counts = np.bincount(np.frombuffer(sample, dtype=np.uint8), minlength=256)
    order = np.argsort(-counts)
    symbols = [bytes([int(b)]) for b in order if counts[b] > 0][:MAX_SYMBOLS]
    for _ in range(iterations - 1):
        tokens = _frozen_pattern(symbols).findall(sample)
        gain: Counter[bytes] = Counter()
        for t in tokens:
            gain[t] += len(t)
        for a, b in zip(tokens, tokens[1:]):
            cat = a + b
            if len(cat) <= MAX_SYMBOL_LEN:
                gain[cat] += len(cat)
        symbols = _frozen_dedupe_prefixes([s for s, _ in gain.most_common(MAX_SYMBOLS * 4)])
    return symbols


def _frozen_decode(data: bytes, symbols: list[bytes]) -> bytes:
    matrix = np.zeros((256, MAX_SYMBOL_LEN), dtype=np.uint8)
    lens = np.ones(256, dtype=np.int64)
    for i, s in enumerate(symbols):
        matrix[i, : len(s)] = np.frombuffer(s, dtype=np.uint8)
        lens[i] = len(s)
    codes = np.frombuffer(data, dtype=np.uint8)
    n = len(codes)
    if n == 0:
        return b""
    is_esc = codes == 255
    if is_esc.any():
        flat = is_esc.view(np.uint8)
        change = np.flatnonzero(flat[1:] != flat[:-1]) + 1
        starts = np.concatenate(([0], change))
        rlens = np.diff(np.concatenate((starts, [n])))
        esc_runs = flat[starts] == 1
        rs, rl = starts[esc_runs], rlens[esc_runs]
        mcounts = (rl + 1) // 2
        total_m = int(mcounts.sum())
        base = np.repeat(rs, mcounts)
        prev = np.concatenate(([0], np.cumsum(mcounts[:-1])))
        within = np.arange(total_m, dtype=np.int64) - np.repeat(prev, mcounts)
        markers = base + 2 * within
        assert not (total_m and markers[-1] + 1 >= n)
        is_marker = np.zeros(n, dtype=bool)
        is_marker[markers] = True
        is_literal = np.zeros(n + 1, dtype=bool)
        is_literal[markers + 1] = True
        is_literal = is_literal[:n]
    else:
        is_marker = np.zeros(n, dtype=bool)
        is_literal = is_marker
    tp = np.flatnonzero(~is_literal)
    tc = codes[tp]
    tm = is_marker[tp]
    out_lens = np.where(tm, 1, lens[tc])
    mat = matrix[tc].copy()
    mat[tm, 0] = codes[tp[tm] + 1]
    return mat[np.arange(MAX_SYMBOL_LEN)[None, :] < out_lens[:, None]].tobytes()


# -- seeded inputs -------------------------------------------------------------


def _length(rng: np.random.Generator) -> int:
    kind = int(rng.integers(0, 6))
    if kind == 0:
        return int(rng.integers(0, 5000))
    if kind == 1:  # the vectorized/regex cutoff
        return 4096 + int(rng.integers(-8, 9))
    if kind == 2:  # one segment
        return _SEG + int(rng.integers(-8, 9))
    if kind == 3:  # the single-segment cutoff
        return _SEG + (_SEG >> 2) + int(rng.integers(-8, 9))
    if kind == 4:  # whole segments plus a tail the regex encoder takes
        return int(rng.integers(2, 4)) * _SEG + int(rng.integers(1, 4096))
    return int(rng.integers(5000, 40_000))


def _data(rng: np.random.Generator, n: int) -> bytes:
    """``n`` bytes over a random 1-256-byte alphabet: i.i.d. skewed bytes or
    words drawn from a small vocabulary (long repeated symbols), optionally
    with runs of 0xFF (escape-marker parity)."""
    k = int(rng.choice([1, 2, 3, 8, 30, 100, 200, 255, 256]))
    alphabet = rng.permutation(256)[:k].astype(np.uint8)
    if rng.random() < 0.5:
        p = rng.random(k) ** 3 + 1e-3
        out = rng.choice(alphabet, size=n, p=p / p.sum())
    else:  # skewed draws from 64 words of 1-11 bytes, gathered in one pass
        wlen = rng.integers(1, 12, 64)
        words = rng.choice(alphabet, size=int(wlen.sum()))
        woff = np.concatenate(([0], np.cumsum(wlen)[:-1]))
        ids = np.minimum(rng.geometric(0.08, size=n + 1) - 1, 63)
        ids = ids[: int(np.searchsorted(np.cumsum(wlen[ids]), n)) + 1]
        lens = wlen[ids]
        first = np.concatenate(([0], np.cumsum(lens)[:-1]))
        out = words[np.repeat(woff[ids] - first, lens) + np.arange(int(lens.sum()))][:n]
    out = out.astype(np.uint8)
    if n and rng.random() < 0.4:  # 0xFF-heavy: runs of every parity
        for _ in range(int(rng.integers(1, 1 + n // 50 + 1))):
            at = int(rng.integers(0, n))
            out[at : at + int(rng.integers(1, 12))] = 0xFF
    return out.tobytes()


def _table(rng: np.random.Generator, data: bytes) -> SymbolTable:
    kind = int(rng.integers(0, 5))
    if kind == 0:
        return SymbolTable([])
    # a sample from the data, or from unrelated bytes (many escapes)
    src = data if kind != 1 else _data(rng, int(rng.integers(1, 20_000)))
    sample = src[: int(rng.choice([16, 200, 300, 1024, 1 << 14]))]
    table = fsst.build_table(sample)
    assert table.symbols == _frozen_build_table(sample)
    return fsst.cap_symbols(table, 6) if kind == 4 else table


def _segments(data: bytes) -> list[bytes]:
    if len(data) <= _SEG + (_SEG >> 2):
        return [data]
    return [data[s : s + _SEG] for s in range(0, len(data), _SEG)]


@pytest.mark.parametrize("seed", range(16))
def test_fsst_kernels_match_frozen(tmp_path, seed):
    """build_table equals the frozen builder; encode equals encode_regex per
    segment; decode equals the frozen decoder; the round trip is exact."""
    rng = np.random.default_rng(9_000 + seed)
    data = _data(rng, _length(rng))
    table = _table(rng, data)
    enc = fsst.encode(data, table)
    assert enc == b"".join(fsst.encode_regex(s, table) for s in _segments(data))
    dec = fsst.decode(enc, table)
    assert dec == _frozen_decode(enc, table.symbols)
    assert dec == data
    blob = fsst.compress(data, table=table)
    assert fsst.decompress(blob) == data


def _adversarial(rng: np.random.Generator) -> tuple[bytes, SymbolTable]:
    """Data and a table built against the walk's one masked compare of the
    8-byte window: 5-8-byte symbols that agree with the data at a position on
    their first 4 or more bytes and then differ, symbols over 0x00 and 0xFF,
    and symbols whose head ends a segment and whose NUL tail would match the
    zero padding past it."""
    n = int(rng.choice([4096, _SEG, _SEG + (_SEG >> 2), 2 * _SEG + 4096, 20_000]))
    data = bytearray(_data(rng, n + int(rng.integers(0, 9))))
    n = len(data)
    ends = np.cumsum([len(s) for s in _segments(bytes(data))]).tolist()
    syms = []
    for end in ends:  # NUL-tailed symbols whose heads end each segment
        k = int(rng.integers(2, 4))
        syms.append(bytes(data[end - k : end]) + b"\0" * int(rng.integers(1, 9 - k)))
        syms.append(bytes(data[end - 1 : end]) + b"\0")
    near = []
    for p in rng.integers(0, n - 8, 80).tolist():
        ln = int(rng.integers(5, 9))
        s = bytearray(data[p : p + ln])
        s[int(rng.integers(4, ln))] ^= int(rng.integers(1, 256))  # first 4+ bytes agree
        near.append(bytes(s))
    pool = np.array([0, 0xFF, data[0], data[n // 2]], dtype=np.uint8)
    edge = [rng.choice(pool, int(rng.integers(1, 9))).tobytes() for _ in range(40)]
    order = rng.permutation(len(near) + len(edge))
    syms += [(near + edge)[i] for i in order.tolist()]
    table = SymbolTable(fsst._dedupe_prefixes(list(dict.fromkeys(syms))))
    # plant whole symbols (so long matches hit too), then restore the heads
    # that end each segment
    heads = [bytes(data[end - 3 : end]) for end in ends]
    for at in rng.integers(0, n - 8, n // 64).tolist():
        sym = table.symbols[int(rng.integers(0, len(table.symbols)))]
        data[at : at + len(sym)] = sym
    for end, head in zip(ends, heads):
        data[end - 3 : end] = head
    return bytes(data), table


@pytest.mark.parametrize("seed", range(8))
def test_fsst_adversarial_tables_match_regex(tmp_path, seed):
    """Tables built to defeat the masked window compare still encode exactly
    as the regex encoder does, segment by segment, and round-trip."""
    rng = np.random.default_rng(19_000 + seed)
    data, table = _adversarial(rng)
    enc = fsst.encode(data, table)
    assert enc == b"".join(fsst.encode_regex(s, table) for s in _segments(data))
    assert fsst.decode(enc, table) == data


# -- hostile bytes -------------------------------------------------------------


def _blob() -> bytes:
    rng = np.random.default_rng(17)
    text = b"the quick brown fox jumps over the lazy dog; " * 30
    noise = rng.integers(0, 256, 400, dtype=np.uint8).tobytes()  # escapes
    data = text + noise + b"\xff\xff\xff" + text[:300]
    return fsst.compress(data, table=fsst.build_table(text[:512]))


def test_fsst_every_truncation_raises():
    blob = _blob()
    assert len(blob) > 1000
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            fsst.decompress(blob[:cut])


def test_fsst_bit_flips_return_bytes_or_raise_valueerror():
    blob = bytearray(_blob())
    rng = np.random.default_rng(5)
    raised = 0
    for bit in rng.choice(len(blob) * 8, size=2000, replace=False).tolist():
        bad = bytearray(blob)
        bad[bit >> 3] ^= 1 << (bit & 7)
        try:
            assert isinstance(fsst.decompress(bytes(bad)), bytes)
        except ValueError:
            raised += 1
    assert raised  # header and code flips are caught


def test_fsst_table_bounds():
    with pytest.raises(ValueError):
        SymbolTable.deserialize(b"")
    assert len(SymbolTable.deserialize(bytes([255]) + b"\x01a" * 255)[0].symbols) == 255
    with pytest.raises(ValueError):
        SymbolTable.deserialize(bytes([255]) + b"\x01a" * 254)  # count past the buffer
    for ln in (0, 9):
        with pytest.raises(ValueError):
            SymbolTable.deserialize(bytes([1, ln]) + b"x" * 9)
    with pytest.raises(ValueError):
        SymbolTable.deserialize(b"\x02\x01a\x03bc")  # second symbol runs past the end


def test_fsst_decode_rejects_codes_past_the_table():
    table = SymbolTable([b"ab", b"c"])
    assert fsst.decode(b"\x00\x01\xff\x07\x00", table) == b"abc\x07ab"
    for bad in (b"\x02", b"\x00\xfe", b"\xff\x41\x05"):
        with pytest.raises(ValueError):
            fsst.decode(bad, table)
    with pytest.raises(ValueError):
        fsst.decode(b"\x00", SymbolTable([]))
    with pytest.raises(ValueError):
        fsst.decode(b"\x00\xff", table)  # escape without its literal


def test_fsst_last_byte_ignores_the_padding():
    """The last position's 2-byte window reads a zero pad byte: a symbol
    ``a\\x00`` must not match there."""
    table = SymbolTable([b"a\x00", b"a", b"xa"])
    data = b"xa" * 3000 + b"a"
    assert fsst.encode(data, table) == fsst.encode_regex(data, table)
    assert fsst.decode(fsst.encode(data, table), table) == data
    sample = b"a\x00" * 200 + b"a"  # the build's walk counts a 1-byte last token
    assert fsst.build_table(sample).symbols == _frozen_build_table(sample)
