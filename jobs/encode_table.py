"""spark-submit entry point: encode a parquet table into a webcodec table.

Usage (north_rule deployment shape)::

    scripts/make_zip.sh
    spark-submit --py-files webcodec.zip jobs/encode_table.py \
        --input /root/testdata/sf0.001/documents.parquet \
        --output /tmp/wc_documents --mode files --sort-key doc_id

Resumable: re-running with the same --output skips committed partitions and
commits a new snapshot (kill it mid-run and start again to test). Lineage
metrics land in <output>/metrics as a parquet table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow plain `python jobs/<job>.py` too (spark-submit ships the zip)
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet file/dir to encode")
    ap.add_argument("--output", required=True, help="webcodec table dir")
    ap.add_argument("--mode", default="files", choices=["files", "clustered", "scan"])
    ap.add_argument("--url-col", default=None,
                    help="url column: domain clustering key (clustered mode) "
                         "and default sort key")
    ap.add_argument("--sort-key", default=None)
    ap.add_argument("--compression", default="zstd")
    ap.add_argument("--target-partition-mb", type=int, default=128)
    ap.add_argument("--num-partitions", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--partition-by", default=None,
                    help="comma list of partition transforms, e.g. "
                         "'days(ts), event_type, bucket(16, url)'")
    ap.add_argument("--distribution", default=None, choices=[None, "hash"],
                    help="'hash' = repartition by the transforms (fewer files)")
    ap.add_argument("--encryption-key-hex", default=None,
                    help="AES key (hex, 16/24/32 bytes) — C12 modular encryption")
    ap.add_argument("--encryption-key-id", default="")
    ap.add_argument("--encryption-footer-mode", default="plaintext",
                    choices=["plaintext", "encrypted"],
                    help="'encrypted' = whole footer confidential (schema/"
                         "stats/blooms unreadable without the key)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from webcodec.config import EncoderConfig
    from webcodec.spark.encode_job import encode_table

    spark = SparkSession.builder.appName("webcodec-encode").getOrCreate()
    df = spark.read.parquet(args.input)
    t0 = time.time()
    partition_by = None
    if args.partition_by:
        from webcodec.spark.datasource import _split_transforms

        partition_by = _split_transforms(args.partition_by)
    snap = encode_table(
        df,
        args.output,
        EncoderConfig(
            compression=args.compression,
            encryption_key=(bytes.fromhex(args.encryption_key_hex)
                            if args.encryption_key_hex else None),
            encryption_key_id=args.encryption_key_id,
            encryption_footer_mode=args.encryption_footer_mode,
        ),
        url_col=args.url_col,
        sort_key=args.sort_key,
        target_partition_bytes=args.target_partition_mb << 20,
        num_partitions=args.num_partitions,
        resume=not args.no_resume,
        mode=args.mode,
        partition_by=partition_by,
        distribution=args.distribution,
    )
    out = {
        "snapshot_id": snap["snapshot_id"],
        "files": len(snap["files"]),
        "rows": snap["total_rows"],
        "raw_bytes": snap["total_raw_bytes"],
        "compressed_bytes": snap["total_compressed_bytes"],
        "ratio": round(snap["total_raw_bytes"] / max(snap["total_compressed_bytes"], 1), 3),
        "wall_s": round(time.time() - t0, 2),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
