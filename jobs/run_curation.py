#!/usr/bin/env python3
"""spark-submit entry point for the curation job — the training-data stage
downstream of extraction (quality gates + global exact dedup), committed
with the same resumable per-partition lineage as the extraction job.

Usage (cluster):
    spark-submit --py-files dist/activestorage_ocr_spark.zip \
        jobs/run_curation.py \
        --input  s3://bucket/extracted/data/outcome=extracted/ \
        --output s3://bucket/curated/ \
        --run-id curate-2025-01 --n-parts 4096 \
        --id-col url --text-col extracted_text

Local smoke:
    python jobs/run_curation.py --input /root/testdata/sf0.001/documents.parquet \
        --output /tmp/curated --run-id t1 --n-parts 16 --master "local[8]"

Re-running with the same --output picks up only part_keys absent from the
manifest; the global dedup keeper is min(id) per fingerprint over the full
input, so resume splits cannot change keeper decisions
(operators/curation.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="documents table (parquet dir)")
    ap.add_argument("--output", required=True, help="output root (data/outcome={curated,rejected}/, _manifest/)")
    ap.add_argument("--run-id", required=True)
    ap.add_argument(
        "--n-parts", type=int, default=1024,
        help="stable id-hash checkpoint partitions; keep it the same for every "
        "run against one --output (a value at or below a committed part key "
        "is refused; other changes, such as a larger value, are not detected)",
    )
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--min-tokens", type=int, default=None)
    ap.add_argument("--min-quality", type=float, default=None)
    ap.add_argument("--keep-langs", default="", help="comma list; empty keeps all")
    ap.add_argument("--master", default=None, help="override (local smoke); cluster runs set the master via spark-submit")

    args = ap.parse_args()
    from activestorage_ocr_spark.operators import curation
    from activestorage_ocr_spark.sources.session import build_session

    if args.master:
        spark = build_session(master=args.master, app_name=f"curate-{args.run_id}")
    else:
        # under spark-submit the master/conf come from the submit command
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName(f"curate-{args.run_id}").getOrCreate()
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    kwargs = {}
    if args.min_tokens is not None:
        kwargs["min_tokens"] = args.min_tokens
    if args.min_quality is not None:
        kwargs["min_quality"] = args.min_quality
    if args.keep_langs:
        kwargs["keep_langs"] = tuple(args.keep_langs.split(","))
    summary = curation.run_curation_job(
        spark,
        spark.read.parquet(args.input),
        args.output,
        run_id=args.run_id,
        n_parts=args.n_parts,
        id_col=args.id_col,
        text_col=args.text_col,
        **kwargs,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
