"""Per-column codec auto-selection.

Two layers (SURVEY.md §2.B, §4.1):
- a-priori rule table over sampled stats (ndv ratio, mean run length, byte
  entropy, prefix ratio) — our extension, richer than the reference's
  type-default tables (DefaultV1/V2ValuesWriterFactory, B2/B3). The stats
  are computed on demand, so each rule reads its cheap statistic first
  (``n`` before the ndv test, ``sortedness`` before ``prefix_ratio``,
  ``avg_len`` before ``byte_entropy``) and an override reads none; the
  ndv tests ask ``stats.ndv_below(t)``, which the length bound answers
  without hashing values when it can;
- a-posteriori guard with the reference's ``FallbackValuesWriter`` semantics
  (A7): ``isCompressionSatisfying(raw, encoded)`` ⇔ encoded (+ dict page) < raw,
  decided on the first encoded page; on failure the chunk falls back to the
  type's plain-est encoding.
"""

from __future__ import annotations

from webcodec.config import EncoderConfig
from webcodec.stats import SampleStats
from webcodec.types import Encoding, PhysType

_NAME_TO_ENC = {
    "plain": Encoding.PLAIN,
    "rle": Encoding.RLE,
    "dict": Encoding.DICT,
    "delta_binary_packed": Encoding.DELTA_BINARY_PACKED,
    "delta_length": Encoding.DELTA_LENGTH,
    "delta_byte_array": Encoding.DELTA_BYTE_ARRAY,
    "byte_stream_split": Encoding.BYTE_STREAM_SPLIT,
    "fsst": Encoding.FSST,
    "alp": Encoding.ALP,
}


def encoding_from_name(name: str) -> Encoding:
    return _NAME_TO_ENC[name.lower()]


def fallback_encoding(phys: PhysType) -> Encoding:
    """The 'plain-est' encoding per type — the A7 fallback target."""
    if phys in (PhysType.STRING, PhysType.BINARY):
        return Encoding.DELTA_LENGTH  # Arrow-native layout; never worse than PLAIN
    if phys == PhysType.BOOL:
        return Encoding.PLAIN
    if phys == PhysType.LIST_FLOAT32:
        return Encoding.BYTE_STREAM_SPLIT
    return Encoding.PLAIN


# type-validity of EXPLICIT per-column overrides; the auto-selector never
# picks an invalid pair, but a user override silently corrupted data before
# this check existed (rle on float64 astype-truncated values to ints)
_INT_DOMAIN = (PhysType.BOOL, PhysType.INT32, PhysType.INT64,
               PhysType.TIMESTAMP_US, PhysType.DATE32)
_FLOATS = (PhysType.FLOAT32, PhysType.FLOAT64)
_VARLEN = (PhysType.STRING, PhysType.BINARY)
_OVERRIDE_OK = {
    Encoding.PLAIN: None,  # any
    Encoding.DICT: None,   # any (size guard falls back)
    Encoding.RLE: _INT_DOMAIN,
    Encoding.DELTA_BINARY_PACKED: _INT_DOMAIN,
    Encoding.DELTA_LENGTH: _VARLEN,
    Encoding.DELTA_BYTE_ARRAY: _VARLEN,
    Encoding.FSST: _VARLEN,
    Encoding.BYTE_STREAM_SPLIT: _INT_DOMAIN + _FLOATS + (PhysType.LIST_FLOAT32,),
    Encoding.ALP: _FLOATS,
}


def _check_override(column: str, enc: Encoding, phys: PhysType) -> None:
    ok = _OVERRIDE_OK.get(enc)
    if ok is not None and phys not in ok:
        raise ValueError(
            f"column_encoding[{column!r}] = {enc.name.lower()!r} is invalid "
            f"for physical type {phys.name} — it would corrupt or reject the "
            "values (use 'auto', or alp/byte_stream_split for floats, "
            "delta_length/delta_byte_array/fsst for strings/binary)"
        )


def choose(column: str, phys: PhysType, stats: SampleStats, config: EncoderConfig) -> Encoding:
    """A-priori choice. The encoder still applies the A7 size guard afterwards."""
    override = config.encoding_for(column)
    if override != "auto":
        enc = encoding_from_name(override)
        _check_override(column, enc, phys)
        return enc
    dict_ok = config.dictionary_for(column)

    if phys == PhysType.BOOL:
        # reference V2 default: RLE for booleans (B3)
        return Encoding.RLE if stats.mean_run_length >= 2 else Encoding.PLAIN

    if phys == PhysType.LIST_FLOAT32:
        return Encoding.BYTE_STREAM_SPLIT

    if phys in (PhysType.INT32, PhysType.INT64, PhysType.TIMESTAMP_US, PhysType.DATE32):
        if dict_ok and stats.n >= 64 and stats.ndv_below(0.05):
            return Encoding.DICT
        # FOR + delta + bit-pack wins on sorted/clustered ints (warc_ts)
        return Encoding.DELTA_BINARY_PACKED

    if phys in (PhysType.FLOAT32, PhysType.FLOAT64):
        if dict_ok and stats.n >= 64 and stats.ndv_below(0.05):
            return Encoding.DICT
        # ALP (SIGMOD'23) is total on floats and self-adapts per page:
        # decimal-like data integerizes into FOR+delta+bit-pack (~2 B/value
        # on 2-decimal telemetry vs ~5.6 for BSS+zstd, measured), random
        # mantissas fall back to the ALP-RD bit-split (~4-6 % under
        # BSS+zstd). BYTE_STREAM_SPLIT stays reachable via override.
        return Encoding.ALP

    # varlen string/binary
    if dict_ok and stats.n >= 64 and stats.ndv_below(0.10):
        return Encoding.DICT
    if stats.sortedness > 0.9 and stats.prefix_ratio > 0.4:
        return Encoding.DELTA_BYTE_ARRAY  # sorted urls
    if (
        config.use_fsst
        and phys == PhysType.STRING
        and stats.avg_len >= 8
        and stats.byte_entropy < 6.0
    ):
        # STRING columns only — the chunk-level sample trial
        # (filefmt._fsst_trial) keeps FSST only when final bytes shrink >=10%.
        # BINARY blobs take the north_star's raw fallback (DELTA_LENGTH +
        # page codec; archive raises their zstd level instead) — measured on
        # web html, FSST there bought ~15% bytes for ~13x the encode cost.
        return Encoding.FSST
    return Encoding.DELTA_LENGTH


def is_compression_satisfying(raw_size: int, encoded_size: int, dict_size: int = 0) -> bool:
    """A7 parity: FallbackValuesWriter.isCompressionSatisfying bytecode
    ⇔ ``encodedSize + dictionaryByteSize < rawDataByteSize``."""
    return encoded_size + dict_size < raw_size
