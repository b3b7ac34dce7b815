"""Encoder configuration — knob-for-knob parity with the reference writer defaults.

Reference evidence (SURVEY.md §2.B4): ``ParquetProperties`` constants
``DEFAULT_PAGE_SIZE=1048576``, ``DEFAULT_DICTIONARY_PAGE_SIZE=1048576``,
``DEFAULT_IS_DICTIONARY_ENABLED=true``, ``DEFAULT_PAGE_ROW_COUNT_LIMIT=20000``,
``DEFAULT_STATISTICS_TRUNCATE_LENGTH`` etc.; option-name surface mirrors the
pyarrow writer kwargs (SURVEY.md §2.B6, pyarrow/parquet/core.py:747-871).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class EncoderConfig:
    # Page sizing (reference: ParquetProperties DEFAULT_PAGE_SIZE / PAGE_ROW_COUNT_LIMIT)
    data_page_size: int = 1 << 20          # 1 MiB uncompressed payload target
    page_row_count_limit: int = 20_000
    # Dictionary (reference: DEFAULT_IS_DICTIONARY_ENABLED / DICTIONARY_PAGE_SIZE)
    use_dictionary: bool | list[str] = True
    dictionary_pagesize_limit: int = 1 << 20
    # Block compression applied per page after encoding (reference: CompressionCodecName)
    compression: str | dict[str, str] = "zstd"   # none|snappy|gzip|zstd|lz4|brotli
    compression_level: int | None = None
    # Level override for BINARY (blob) columns only — the archive profile
    # trades FSST (wrong tool for opaque blobs, north_star: raw fallback for
    # html) for a deeper zstd pass on exactly those columns.
    binary_compression_level: int | None = None
    # Per-column encoding override, mirrors pyarrow ``column_encoding``
    # values: plain|rle|dict|delta_binary_packed|delta_length|delta_byte_array|
    #         byte_stream_split|fsst|alp|auto
    column_encoding: str | dict[str, str] = "auto"
    # FSST
    use_fsst: bool = True
    fsst_sample_bytes: int = 1 << 14
    # Bloom filters (reference: BlockSplitBloomFilter, DEFAULT_BLOOM_FILTER_FPP)
    bloom_filter_enabled: bool = True     # varlen columns with avg_len <= threshold
    bloom_filter_fpp: float = 0.01
    bloom_filter_max_bytes: int = 1 << 20
    bloom_filter_max_avg_len: int = 256   # skip long-text columns (equality never used)
    # Statistics / page index
    statistics_enabled: bool = True
    statistics_truncate_length: int = 64    # reference: DEFAULT_COLUMN_INDEX_TRUNCATE_LENGTH
    write_page_checksum: bool = True        # reference: DEFAULT_PAGE_WRITE_CHECKSUM_ENABLED
    # Codec auto-selector sampling
    selector_sample_values: int = 4_096
    # Modular encryption (SURVEY §2 C12, parquet modular-encryption analogue,
    # plaintext-footer mode): AES-GCM per page + signed footer. The key ships
    # inside this config (same trust model as parquet encryption properties);
    # key_id is recorded in footers so readers know WHICH key to present.
    encryption_key: bytes | None = None
    encryption_key_id: str = ""
    # "plaintext" (default: readable schema/stats for planning + GCM
    # signature) or "encrypted" (parquet encrypted-footer analogue: the WHOLE
    # footer is GCM-encrypted under the DEK — a keyless read reveals nothing
    # but algorithm/key_id; schema, stats and blooms are confidential)
    encryption_footer_mode: str = "plaintext"
    # internal: per-FILE random AAD prefix, set by write_table/write_batches —
    # never set this yourself (sharing one prefix across files would let
    # ciphertext pages be relocated between those files undetected)
    encryption_aad_prefix: bytes | None = None
    # internal: row-group ordinal within the file (write_batches sets it per
    # flushed group so the AAD chain distinguishes same-slot pages of
    # different groups)
    encryption_group_ordinal: int = 0
    # internal: per-file random HKDF salt — the page key is a per-FILE DEK
    # derived from (encryption_key, this salt), never the master key itself
    encryption_dek_salt: bytes | None = None

    # named profiles --------------------------------------------------------------
    @classmethod
    def speed(cls, **kw) -> "EncoderConfig":
        """Throughput profile: no FSST trial/encode — apples-to-apples with
        the reference Parquet writer (which has no string-table codec).
        Matches-or-beats the reference wall at ~0.90x its bytes.

        zstd level 3 (not the codec default 1): on web text the longer
        matches level 3 finds mean FEWER bytes reach the entropy coder, so
        it measures as fast as level 1 (±2% wall, best-of-4 on the bench
        corpus) while writing ~7% fewer bytes — a strict win on both axes.
        """
        kw.setdefault("use_fsst", False)
        kw.setdefault("compression_level", 3)
        return cls(**kw)

    @classmethod
    def archive(cls, **kw) -> "EncoderConfig":
        """Size profile: FSST on for STRING columns where the sampled trial
        wins >=10% after the page codec; BINARY blobs (html) take the
        north_star's raw fallback with a deeper zstd pass (level 11) instead
        — FSST on opaque blobs bought ~15% size for ~13x the encode cost,
        while zstd-11 on the blob pages matches FSST's size at a fraction of
        it. On the perfbench webpages workload (8,000 rows, one thread) it
        writes ~0.32x the pyarrow zstd reference's bytes
        (``archive_size_vs_ref``) in ~7.5x its write time
        (``archive_encode_vs_ref``)."""
        kw.setdefault("use_fsst", True)
        kw.setdefault("binary_compression_level", 11)
        return cls(**kw)

    def file_crypto(self):
        """The per-file encryption context (memoized; keyed by the derived
        per-file DEK + AAD prefix), or None when encryption is off. Valid
        only after the write path stamped this config with a fresh per-file
        aad prefix + dek salt."""
        if self.encryption_key is None:
            return None
        from webcodec.crypto import _cached_context, derive_dek

        if self.encryption_aad_prefix is None or self.encryption_dek_salt is None:
            raise ValueError(
                "per-file encryption material unset — encode through "
                "write_table/write_batches, which stamp a fresh aad prefix "
                "and dek salt per file"
            )
        dek = derive_dek(bytes(self.encryption_key), bytes(self.encryption_dek_salt))
        return _cached_context(dek, bytes(self.encryption_aad_prefix))

    # per-column resolved helpers -------------------------------------------------
    def compression_for(self, column: str) -> str:
        if isinstance(self.compression, dict):
            return self.compression.get(column, self.compression.get("*", "zstd"))
        return self.compression

    def encoding_for(self, column: str) -> str:
        if isinstance(self.column_encoding, dict):
            return self.column_encoding.get(column, "auto")
        return self.column_encoding

    def dictionary_for(self, column: str) -> bool:
        if isinstance(self.use_dictionary, list):
            return column in self.use_dictionary
        return bool(self.use_dictionary)


DEFAULT_CONFIG = EncoderConfig()
