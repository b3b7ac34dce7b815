"""Deprecated BIT_PACKED level encoding (parquet-format Encodings.md: legal
only for rep/def levels): no modern writer emits it, so the fixture files
are HAND-CRAFTED here — a v1 data page whose repetition AND definition
levels are bit-packed (no u32 length prefix).

Bit order: the ecosystem DIVERGED. The spec prose and parquet-java
(ByteBitPackingValuesReader, Packer.BIG_ENDIAN) are MSB-first, and old
parquet-mr is the only writer that ever emitted this encoding — so genuine
legacy files are MSB. Arrow C++ decodes these levels with its generic
LSB-first BitReader (shipped header parquet/column_reader.h declares
``bit_packed_decoder_`` as ``arrow::bit_util::BitReader``), so pyarrow 16
accepts only the LSB layout — verified below. Our interop reader defaults
to the spec/parquet-java MSB order (``pi.BIT_PACKED_LEVEL_ORDER``), with
"lsb" as the knob for Arrow-order files; each order is tested against its
matching reference (MSB: hand-computed expectation; LSB: pyarrow)."""

import struct

import pyarrow as pa
import pyarrow.parquet as pq

from webcodec.kernels import bitpack
from webcodec.parquet_writer import (_f_i32, _f_struct, _file_metadata,
                                     _stop, _TOut)
from webcodec import parquet_interop as pi

ROWS = [[1, 2], [], None, [3, None, 4]]
# per-entry level streams for list<int32 (optional)> (max_rep 1, max_def 3)
REPS = [0, 1, 0, 0, 0, 1, 1]
DEFS = [3, 3, 1, 0, 3, 2, 3]
VALS = [1, 2, 3, 4]


def _page_header_bitpacked(n_values, usize, csize):
    dph = _TOut()
    last = 0
    last = _f_i32(dph, last, 1, n_values)
    last = _f_i32(dph, last, 2, 0)  # values: PLAIN
    last = _f_i32(dph, last, 3, 4)  # def levels: BIT_PACKED
    last = _f_i32(dph, last, 4, 4)  # rep levels: BIT_PACKED
    _stop(dph)
    ph = _TOut()
    last = 0
    last = _f_i32(ph, last, 1, 0)  # DATA_PAGE
    last = _f_i32(ph, last, 2, usize)
    last = _f_i32(ph, last, 3, csize)
    last = _f_struct(ph, last, 5, bytes(dph.buf))
    _stop(ph)
    return bytes(ph.buf)


def _craft(path, packer):
    import numpy as np

    body = bytes(packer(np.array(REPS, np.uint64), 1))
    body += bytes(packer(np.array(DEFS, np.uint64), 2))
    body += struct.pack(f"<{len(VALS)}i", *VALS)
    page = _page_header_bitpacked(len(REPS), len(body), len(body)) + body
    t = pa.table({"a": pa.array(ROWS, pa.list_(pa.int32()))})
    groups = [[{
        # chunk sizes include the page HEADER bytes (spec: totals over the
        # whole chunk); the PageHeader's own sizes cover only the body
        "type": 1, "enc": 0, "name": "a", "path": ["a", "list", "element"],
        "num_values": len(REPS), "usize": len(page), "csize": len(page),
        "offset": 4, "stats": None,
    }]]
    footer = _file_metadata(t, groups, "uncompressed", len(ROWS))
    with open(path, "wb") as f:
        f.write(b"PAR1" + page + footer
                + struct.pack("<I", len(footer)) + b"PAR1")


EXPECT = pa.table({"a": pa.array(ROWS, pa.list_(pa.int32()))})


def test_bitpacked_msb_is_the_default(tmp_path):
    """An MSB-packed file (what old parquet-mr actually wrote) decodes
    correctly under the default order — this is the silent-wrong-data case
    a pyarrow-only differential would miss, since pyarrow itself mis-reads
    MSB files (Arrow's LSB BitReader)."""
    p = str(tmp_path / "bp_msb.parquet")
    _craft(p, bitpack.pack_legacy)
    assert pi.BIT_PACKED_LEVEL_ORDER == "msb"
    mine = pi.read_table_arrow_native(p)
    assert mine.column("a").combine_chunks() == EXPECT.column("a").combine_chunks()


def test_bitpacked_lsb_knob_matches_pyarrow(tmp_path):
    """The LSB knob reads Arrow-bit-order files; pyarrow is the reference
    for exactly this layout (and ONLY this layout — asserted by showing
    pyarrow returns the same rows for the LSB file)."""
    p = str(tmp_path / "bp_lsb.parquet")
    _craft(p, bitpack.pack_legacy_lsb)
    ref = pq.read_table(p)  # pyarrow accepts the LSB layout
    assert ref.column("a").combine_chunks() == EXPECT.column("a").combine_chunks()
    old = pi.BIT_PACKED_LEVEL_ORDER
    pi.BIT_PACKED_LEVEL_ORDER = "lsb"
    try:
        mine = pi.read_table_arrow_native(p)
    finally:
        pi.BIT_PACKED_LEVEL_ORDER = old
    assert mine.column("a").combine_chunks() == EXPECT.column("a").combine_chunks()


def test_pyarrow_diverges_on_msb_documented(tmp_path):
    """Document the divergence this module's default exists for: pyarrow 16
    CANNOT read the spec-order (MSB) file — on this fixture its LSB-order
    misread yields inconsistent levels and it errors out (on other level
    streams it would be silent wrong data). If a future pyarrow decodes the
    file correctly, this test flags it and the default story should be
    revisited."""
    p = str(tmp_path / "bp_msb2.parquet")
    _craft(p, bitpack.pack_legacy)
    try:
        ref = pq.read_table(p)
    except Exception:
        return  # pyarrow rejects the spec-order file outright
    assert ref.column("a").combine_chunks() != EXPECT.column("a").combine_chunks()
