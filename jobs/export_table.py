"""spark-submit entry point: transcode the current snapshot of a webcodec
table (the rows and columns read_encoded returns) into STANDARD
parquet files (webcodec kernels decode, webcodec's own parquet writer
re-serializes — any reference reader consumes the result; Spark VariantType
columns come out as VARIANT(1)-annotated groups).

    spark-submit --py-files webcodec.zip jobs/export_table.py \
        --table /tmp/wc_documents --out /tmp/documents_parquet \
        [--codec zstd] [--no-carry-encodings] [--encryption-key-hex ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# allow plain `python jobs/<job>.py` too (spark-submit ships the zip)
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="webcodec table dir")
    ap.add_argument("--out", required=True, help="output parquet dir")
    ap.add_argument("--codec", default="zstd",
                    help="parquet page codec (none|snappy|gzip|zstd|lz4)")
    ap.add_argument("--no-carry-encodings", action="store_true",
                    help="emit dict/PLAIN instead of carrying the .wcd "
                         "selector's DELTA/BSS picks into the parquet pages")
    ap.add_argument("--encryption-key-hex", default=None,
                    help="AES key (hex) for C12-encrypted source tables")
    ap.add_argument("--output-encryption-key-hex", default=None,
                    help="write MODULAR-ENCRYPTED parquet (encrypted "
                         "footer) under this AES key (hex)")
    ap.add_argument("--geometry-column", action="append", default=[],
                    metavar="NAME[=CRS]",
                    help="annotate this binary WKB column as GEOMETRY "
                         "(repeatable; optional =CRS suffix)")
    ap.add_argument("--data-page-version", type=int, default=1,
                    choices=(1, 2),
                    help="parquet data page format: 1 (default, widest "
                         "reader support) or 2 (uncompressed level regions, "
                         "RLE_DICTIONARY)")
    ap.add_argument("--geography-column", action="append", default=[],
                    metavar="NAME[=CRS]",
                    help="annotate this binary WKB column as GEOGRAPHY "
                         "(repeatable; optional =CRS suffix)")
    ap.add_argument("--annotate-column", action="append", default=[],
                    metavar="NAME=KIND",
                    help="stamp a semantic BYTE_ARRAY logical type on a "
                         "string/binary column: KIND is json, bson or enum "
                         "(repeatable)")
    ap.add_argument("--bloom-column", action="append", default=[],
                    metavar="NAME",
                    help="write a parquet split-block bloom filter (XXH64) "
                         "for this column's chunks (repeatable)")
    args = ap.parse_args()

    def _geo(specs: list[str]) -> dict | None:
        out = {}
        for s in specs:
            name, _, crs = s.partition("=")
            out[name] = crs or None
        return out or None

    from pyspark.sql import SparkSession

    from webcodec.spark.maintenance import export_parquet

    spark = SparkSession.builder.appName("webcodec-export").getOrCreate()
    ekey = bytes.fromhex(args.encryption_key_hex) if args.encryption_key_hex else None
    t0 = time.time()
    okey = (bytes.fromhex(args.output_encryption_key_hex)
            if args.output_encryption_key_hex else None)
    res = export_parquet(
        spark, args.table, args.out, codec=args.codec,
        carry_encodings=not args.no_carry_encodings, encryption_key=ekey,
        output_encryption_key=okey,
        geometry_columns=_geo(args.geometry_column),
        geography_columns=_geo(args.geography_column),
        annotation_columns=({k: v for k, v in
                             (s.partition("=")[::2] for s in
                              args.annotate_column)} or None),
        bloom_filter_columns=(set(args.bloom_column) or None),
        data_page_version=args.data_page_version)
    res["wall_s"] = round(time.time() - t0, 2)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
