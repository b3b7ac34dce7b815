"""Reference MODULAR-ENCRYPTION interop (parquet-format Encryption.md,
SURVEY §2 C12 read-direction parity): AES-GCM-encrypted parquet files
written by the reference writer (arrow-C++ FileEncryptionProperties through
the pyarrow CryptoFactory) decode value-for-value using ONLY webcodec
machinery — our thrift reader parses FileCryptoMetaData and the decrypted
FileMetaData, key-tools PKMT1 key metadata resolves DEKs through a
caller-supplied KMS unwrap, and every module (footer, redacted
ColumnMetaData, page headers, pages) decrypts with the spec AADs
(aad_file_unique || module_type || ordinals), verified differentially
against pyarrow's own decryption.

Module-type ordinals were established empirically against reference files
(GCM authentication is the proof): Footer=0, ColumnMetaData=1, DataPage=2,
DictionaryPage=3, DataPageHeader=4, DictionaryPageHeader=5; page ordinal
only on data-page modules; every module buffer is u32-length-prefixed
nonce||ciphertext||tag."""

import base64

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

pe = pytest.importorskip("pyarrow.parquet.encryption")

from webcodec import parquet_interop


class _Kms(pe.KmsClient):
    """Identity-wrap KMS (wrap = base64) — keys recoverable in tests."""

    def __init__(self, config):
        super().__init__()

    def wrap_key(self, key_bytes, master_key_identifier):
        return base64.b64encode(key_bytes)

    def unwrap_key(self, wrapped_key, master_key_identifier):
        return base64.b64decode(wrapped_key)


def _unwrap(wrapped_b64, master_key_id):
    return base64.b64decode(wrapped_b64)


def _write(path, t, *, column_keys, plaintext_footer=False, row_groups=1):
    factory = pe.CryptoFactory(lambda config: _Kms(config))
    cfg = pe.EncryptionConfiguration(
        footer_key="fk", column_keys=column_keys,
        plaintext_footer=plaintext_footer, double_wrapping=False)
    props = factory.file_encryption_properties(
        pe.KmsConnectionConfig(), cfg)
    step = max(t.num_rows // row_groups, 1)
    with pq.ParquetWriter(path, t.schema, encryption_properties=props) as w:
        for i in range(0, t.num_rows, step):
            w.write_table(t.slice(i, step))
    return factory


def _table(n=300):
    return pa.table({
        "a": pa.array(range(n), pa.int64()),
        "b": pa.array([None if i % 11 == 0 else f"s{i % 7}"
                       for i in range(n)]),
        "l": pa.array([[i, None] for i in range(n)], pa.list_(pa.int64())),
    })


@pytest.mark.parametrize("plaintext_footer", [False, True])
def test_encrypted_reference_file_decodes(tmp_path, plaintext_footer):
    t = _table()
    p = str(tmp_path / "e.parquet")
    factory = _write(p, t, column_keys={"ck": ["a", "b", "l.list.element"]},
                     plaintext_footer=plaintext_footer, row_groups=2)
    ours = parquet_interop.read_table_arrow_native(p, kms_unwrap=_unwrap)
    for c in t.column_names:
        assert ours.column(c).to_pylist() == t.column(c).to_pylist(), c
    # differential: byte-for-value match against the reference's OWN decrypt
    dprops = factory.file_decryption_properties(pe.KmsConnectionConfig())
    ref = pq.ParquetFile(p, decryption_properties=dprops).read()
    assert ours.to_pylist() == ref.to_pylist()


def test_mixed_encrypted_and_plaintext_columns(tmp_path):
    """Unlisted columns stay plaintext (the reference writer's behavior,
    even in encrypted-footer mode) and must read alongside encrypted
    ones."""
    t = _table()
    p = str(tmp_path / "m.parquet")
    _write(p, t, column_keys={"ck": ["a"]})
    ours = parquet_interop.read_table_arrow_native(p, kms_unwrap=_unwrap)
    for c in t.column_names:
        assert ours.column(c).to_pylist() == t.column(c).to_pylist(), c


def test_keyless_read_raises(tmp_path):
    t = _table(50)
    p = str(tmp_path / "k.parquet")
    _write(p, t, column_keys={"ck": ["a"]})
    with pytest.raises(ValueError, match="kms_unwrap"):
        parquet_interop.read_table_arrow_native(p)


def test_wrong_key_fails_gcm(tmp_path):
    from cryptography.exceptions import InvalidTag

    t = _table(50)
    p = str(tmp_path / "w.parquet")
    _write(p, t, column_keys={"ck": ["a"]})
    with pytest.raises(InvalidTag):
        parquet_interop.read_table_arrow_native(
            p, kms_unwrap=lambda w, m: b"\x00" * 16)


# ------------------------------ write side ------------------------------


def _own_encrypted(tmp_path, t, key, row_group_rows=None,
                   reference_compatible=False):
    """reference_compatible=True wraps keys with the identity-base64 KMS
    the test _Kms implements (so pyarrow's CryptoFactory can unwrap);
    the DEFAULT wraps column DEKs under the footer key (no key material
    recoverable from the file alone)."""
    from webcodec import parquet_writer

    kw = {}
    if reference_compatible:
        kw["encryption_kms_wrap"] = lambda dek, mid: base64.b64encode(dek)
        kw["encryption_key_metadata"] = (
            b'{"keyMaterialType":"PKMT1","internalStorage":true,'
            b'"isFooterKey":true,"kmsInstanceID":"DEFAULT",'
            b'"kmsInstanceURL":"DEFAULT","masterKeyID":"fk","wrappedDEK":"'
            + base64.b64encode(key) + b'","doubleWrapping":false}')
    p = str(tmp_path / "own_enc.parquet")
    parquet_writer.write_parquet(t, p, encryption_key=key,
                                 row_group_rows=row_group_rows, **kw)
    return p


def test_own_encrypted_export_reference_decrypts(tmp_path):
    """The WRITE direction of C12 interop: our encrypted-footer export
    (PARE, per-column random DEKs, redacted ColumnMetaData modules,
    RowGroup.ordinal-keyed page AADs) decrypts in the REFERENCE reader —
    threaded full reads, multi row group, nested column included."""
    key = bytes(range(16))
    t = _table()
    p = _own_encrypted(tmp_path, t, key, row_group_rows=77,
                       reference_compatible=True)
    factory = pe.CryptoFactory(lambda config: _Kms(config))
    dprops = factory.file_decryption_properties(pe.KmsConnectionConfig())
    for _ in range(3):
        ref = pq.ParquetFile(p, decryption_properties=dprops).read()
        for c in t.column_names:
            assert ref.column(c).to_pylist() == t.column(c).to_pylist(), c
    # keyless reference read must fail, and no plaintext PAR1 masquerade
    with pytest.raises(Exception):
        pq.read_table(p)
    raw = open(p, "rb").read()
    assert raw[:4] == b"PARE" and raw[-4:] == b"PARE"


def test_own_encrypted_roundtrip_own_reader(tmp_path):
    """Own encrypted writer -> own encrypted reader (no reference code in
    the loop), plus wrong-key failure."""
    from cryptography.exceptions import InvalidTag

    from webcodec import parquet_interop

    key = b"\x07" * 16
    t = _table(120)
    p = _own_encrypted(tmp_path, t, key, row_group_rows=50)
    # SECURE DEFAULT: column DEKs wrapped under the footer key — no key
    # material recoverable from the file; reader takes the raw key bytes
    raw = open(p, "rb").read()
    assert key not in raw and base64.b64encode(key) not in raw
    ours = parquet_interop.read_table_arrow_native(p, kms_unwrap=key)
    for c in t.column_names:
        assert ours.column(c).to_pylist() == t.column(c).to_pylist(), c
    with pytest.raises(InvalidTag):
        parquet_interop.read_table_arrow_native(p, kms_unwrap=b"\x01" * 16)


@pytest.mark.spark
def test_export_parquet_encrypted_output(spark, tmp_path):
    """Job-level story: an ENCRYPTED .wcd lakehouse exports to
    MODULAR-ENCRYPTED standard parquet (never plaintext on disk), and the
    reference reader decrypts the result."""
    import os

    import pyarrow.parquet as pq2

    from webcodec.config import EncoderConfig
    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import export_parquet

    src_key = bytes(range(32))
    out_key = bytes(range(16))
    t = _table(400)
    src = str(tmp_path / "src.parquet")
    pq2.write_table(t, src)
    df = spark.read.parquet(src)
    tdir = str(tmp_path / "t")
    encode_table(df.repartition(2), tdir, write_metrics=False,
                 config=EncoderConfig(encryption_key=src_key))
    exp = str(tmp_path / "exp")
    res = export_parquet(spark, tdir, exp, encryption_key=src_key,
                         output_encryption_key=out_key)
    assert res["rows"] == 400
    files = [os.path.join(exp, f) for f in os.listdir(exp)
             if f.endswith(".parquet")]
    got = pa.concat_tables(
        [parquet_interop.read_table_arrow_native(f, kms_unwrap=out_key)
         for f in files])
    assert got.num_rows == 400
    assert sorted(got.column("a").to_pylist()) == list(range(400))
    for f in files:  # keyless reads fail on every output file
        raw = open(f, "rb").read()
        assert raw[:4] == b"PARE"
        with pytest.raises(Exception):
            pq.read_table(f)


def test_double_wrapped_default_config(tmp_path):
    """The reference CryptoFactory's DEFAULT double-wrapping (KEK layer):
    KEK = kms_unwrap(wrappedKEK); DEK = AES-GCM(wrappedDEK) under the KEK
    with AAD = raw kekID bytes. Our reader resolves it end-to-end."""
    factory = pe.CryptoFactory(lambda config: _Kms(config))
    cfg = pe.EncryptionConfiguration(
        footer_key="fk", column_keys={"ck": ["a", "l.list.element"]},
        double_wrapping=True)
    props = factory.file_encryption_properties(pe.KmsConnectionConfig(), cfg)
    t = _table(150)
    p = str(tmp_path / "dw.parquet")
    with pq.ParquetWriter(p, t.schema, encryption_properties=props) as w:
        w.write_table(t)
    ours = parquet_interop.read_table_arrow_native(p, kms_unwrap=_unwrap)
    for c in t.column_names:
        assert ours.column(c).to_pylist() == t.column(c).to_pylist(), c


@pytest.mark.parametrize("seed", range(3))
def test_tampered_encrypted_file_never_wrong_data(tmp_path, seed):
    """Bit-flips anywhere in an encrypted file must either leave the read
    result IDENTICAL (flip landed in dead padding — GCM covers every
    module, so in practice it raises) or raise cleanly. Silently wrong
    data is the one forbidden outcome; GCM authentication enforces it."""
    import numpy as np

    key = bytes(range(16))
    t = _table(80)
    p = _own_encrypted(tmp_path, t, key, row_group_rows=40)
    base = bytearray(open(p, "rb").read())
    want = {c: t.column(c).to_pylist() for c in t.column_names}
    rng = np.random.default_rng(seed)
    for _ in range(40):
        b = bytearray(base)
        i = int(rng.integers(4, len(b) - 4))
        b[i] ^= int(rng.integers(1, 256))
        p2 = str(tmp_path / "t.parquet")
        open(p2, "wb").write(bytes(b))
        try:
            got = parquet_interop.read_table_arrow_native(p2, kms_unwrap=key)
        except Exception:
            continue  # clean failure — the expected outcome
        for c in t.column_names:
            assert got.column(c).to_pylist() == want[c], (
                f"tampered byte {i} produced WRONG DATA in {c}")


@pytest.mark.parametrize("page_version,use_dictionary",
                         [("1.0", True), ("2.0", False), ("2.0", True)])
def test_encrypted_multipage_variants(tmp_path, page_version, use_dictionary):
    """Encrypted chunks with MANY pages (page ordinals > 0), dictionary
    pages, v1 AND v2 data pages, nulls — the page-module AAD ordinal math
    across every page shape the reference writer produces."""
    factory = pe.CryptoFactory(lambda config: _Kms(config))
    cfg = pe.EncryptionConfiguration(
        footer_key="fk", column_keys={"ck": ["a", "s"]},
        double_wrapping=False)
    props = factory.file_encryption_properties(pe.KmsConnectionConfig(), cfg)
    t = pa.table({
        "a": pa.array([None if i % 7 == 0 else i for i in range(20_000)],
                      pa.int64()),
        "s": pa.array([f"v{i % 31}" for i in range(20_000)]),
    })
    p = str(tmp_path / "mp.parquet")
    with pq.ParquetWriter(p, t.schema, encryption_properties=props,
                          data_page_size=4096, use_dictionary=use_dictionary,
                          data_page_version=page_version) as w:
        w.write_table(t)
    ours = parquet_interop.read_table_arrow_native(p, kms_unwrap=_unwrap)
    for c in t.column_names:
        assert ours.column(c).to_pylist() == t.column(c).to_pylist(), c


# ----------------------------- AES_GCM_CTR_V1 -------------------------------


@pytest.mark.parametrize("column_keys,use_dictionary", [
    ({"ck": ["a", "b", "l.list.element"]}, True),
    ({"ck": ["a"]}, True),                 # mixed: b/l under the footer key
    ({"ck": ["a", "b", "l.list.element"]}, False),
])
def test_gcm_ctr_encrypted_footer_decodes(tmp_path, column_keys,
                                          use_dictionary):
    """AES_GCM_CTR_V1 (parquet-format Encryption.md): page PAYLOADS are
    AES-CTR (nonce || ciphertext, ICB = nonce || be32(1)); every other
    module — footer, ColumnMetaData, page headers — stays GCM. Reference
    files written by arrow-C++'s CryptoFactory must decode value-for-value."""
    factory = pe.CryptoFactory(lambda config: _Kms(config))
    cfg = pe.EncryptionConfiguration(
        footer_key="fk", column_keys=column_keys,
        encryption_algorithm="AES_GCM_CTR_V1", double_wrapping=False)
    props = factory.file_encryption_properties(pe.KmsConnectionConfig(), cfg)
    t = _table(300)
    p = str(tmp_path / "ctr.parquet")
    with pq.ParquetWriter(p, t.schema, encryption_properties=props,
                          use_dictionary=use_dictionary) as w:
        w.write_table(t.slice(0, 150))
        w.write_table(t.slice(150))
    ours = parquet_interop.read_table_arrow_native(p, kms_unwrap=_unwrap)
    for c in t.column_names:
        assert ours.column(c).to_pylist() == t.column(c).to_pylist(), c


def test_gcm_ctr_multipage_ordinals(tmp_path):
    """CTR pages with page ordinals > 0: the GCM page-HEADER AADs still
    carry the ordinal even though the CTR payloads carry none."""
    factory = pe.CryptoFactory(lambda config: _Kms(config))
    cfg = pe.EncryptionConfiguration(
        footer_key="fk", column_keys={"ck": ["a", "s"]},
        encryption_algorithm="AES_GCM_CTR_V1", double_wrapping=False)
    props = factory.file_encryption_properties(pe.KmsConnectionConfig(), cfg)
    t = pa.table({
        "a": pa.array([None if i % 7 == 0 else i for i in range(20_000)],
                      pa.int64()),
        "s": pa.array([f"v{i % 31}" for i in range(20_000)]),
    })
    p = str(tmp_path / "ctrmp.parquet")
    with pq.ParquetWriter(p, t.schema, encryption_properties=props,
                          data_page_size=4096) as w:
        w.write_table(t)
    ours = parquet_interop.read_table_arrow_native(p, kms_unwrap=_unwrap)
    for c in t.column_names:
        assert ours.column(c).to_pylist() == t.column(c).to_pylist(), c


def test_gcm_ctr_keyless_read_raises(tmp_path):
    factory = pe.CryptoFactory(lambda config: _Kms(config))
    cfg = pe.EncryptionConfiguration(
        footer_key="fk", column_keys={"ck": ["a"]},
        encryption_algorithm="AES_GCM_CTR_V1", double_wrapping=False)
    props = factory.file_encryption_properties(pe.KmsConnectionConfig(), cfg)
    t = _table(50)
    p = str(tmp_path / "ctrk.parquet")
    pq.write_table(t, p, encryption_properties=props)
    with pytest.raises(ValueError, match="kms_unwrap"):
        parquet_interop.read_table_arrow_native(p)


@pytest.mark.parametrize("seed", range(2))
def test_gcm_ctr_tampered_page_detected_via_crc_or_decode(tmp_path, seed):
    """CTR payloads carry no GCM tag, so tampering INSIDE a page is caught
    by the decode layer (decompression/shape errors) — never silently
    returned as a DIFFERENT dataset with valid structure. Flips that decode
    cleanly must round-trip semantically (spec: CTR trades page-level
    authentication for speed; header/footer GCM still pins the structure)."""
    import numpy as np

    factory = pe.CryptoFactory(lambda config: _Kms(config))
    cfg = pe.EncryptionConfiguration(
        footer_key="fk", column_keys={"ck": ["a", "b", "l.list.element"]},
        encryption_algorithm="AES_GCM_CTR_V1", double_wrapping=False)
    props = factory.file_encryption_properties(pe.KmsConnectionConfig(), cfg)
    t = _table(80)
    p = str(tmp_path / "ctrt.parquet")
    pq.write_table(t, p, encryption_properties=props)
    base = bytearray(open(p, "rb").read())
    rng = np.random.default_rng(seed)
    outcomes = {"raised": 0, "read": 0}
    for _ in range(30):
        b = bytearray(base)
        i = int(rng.integers(4, len(b) - 4))
        b[i] ^= int(rng.integers(1, 256))
        p2 = str(tmp_path / "t.parquet")
        open(p2, "wb").write(bytes(b))
        try:
            got = parquet_interop.read_table_arrow_native(p2, kms_unwrap=_unwrap)
            outcomes["read"] += 1
            # whatever decodes must still be a structurally valid table of
            # the SAME schema and row count (CTR has no per-page auth; the
            # GCM-covered footer/headers pin everything structural)
            assert got.num_rows == t.num_rows
            assert set(got.column_names) == set(t.column_names)
        except Exception:
            outcomes["raised"] += 1
    assert outcomes["raised"] + outcomes["read"] == 30


def test_footer_key_column_without_kms_fails_loudly():
    """A plaintext-footer file whose chunks use ENCRYPTION_WITH_FOOTER_KEY,
    opened without kms_unwrap, must NOT fail at metadata time (schema
    listing and plaintext-column projections keep working keyless) — the
    chunk carries an unresolved-crypto marker (gcm None) and the page
    reader raises the actual cause (missing key resolution) only when a
    caller projects THIS column's pages, never an AttributeError on a None
    GCM context deep inside page decode. CryptoFactory can't produce such a
    file (it leaves unlisted columns plaintext), so both layers are probed
    directly."""
    cc = {3: {0: "meta"}, 8: {1: {}}}  # ColumnCryptoMetaData: footer-key arm
    # metadata time: no raise, unresolved marker returned
    meta_bytes, crypto = parquet_interop._chunk_crypto(cc, None, b"", 0, 0, None)
    assert meta_bytes == {0: "meta"}
    assert crypto is not None and crypto["gcm"] is None

    # page-read time: the loud, actionable failure
    class _Meta:
        compression = 0
        dictionary_page_offset = None
        data_page_offset = 0
        total_compressed_size = 8
        num_values = 1

    m = _Meta()
    m.crypto = crypto
    with pytest.raises(ValueError, match="kms_unwrap"):
        parquet_interop._read_leaf_entries(memoryview(b"\x00" * 8), m,
                                           "INT32", 0, 0)
