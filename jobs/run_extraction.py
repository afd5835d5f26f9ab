#!/usr/bin/env python3
"""spark-submit entry point for the extraction job (north rule: "ships via
spark-submit --py-files on a multi-executor cluster").

Usage (cluster):
    spark-submit --py-files dist/activestorage_ocr_spark.zip \
        jobs/run_extraction.py \
        --input  s3://bucket/pages/          \
        --output s3://bucket/extracted/      \
        --run-id crawl-2025-01               \
        --n-parts 4096 --engine pixelocr --preset minimal

Local smoke:
    python jobs/run_extraction.py --input /tmp/asos_spark_corpus/.../pages.parquet \
        --output /tmp/out --run-id t1 --n-parts 16 --master "local[8]" \
        --max-bytes 262144

The job is resumable: re-running with the same --output picks up only
part_keys absent from the manifest (see operators/lineage.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="pages table (parquet dir)")
    ap.add_argument(
        "--input-format", default="pages", choices=["pages", "warc"],
        help="'pages' reads a parquet pages table; 'warc' treats --input as "
        "a glob of raw .warc/.warc.gz crawl files (ingested via "
        "sources/warc.py, 2xx responses only)",
    )
    ap.add_argument("--output", required=True, help="output root (data/outcome={extracted,quarantine}/, _manifest/)")
    ap.add_argument("--run-id", required=True)
    ap.add_argument(
        "--n-parts", type=int, default=1024,
        help="stable url-hash checkpoint partitions; keep it the same for every "
        "run against one --output (a value at or below a committed part key "
        "is refused; other changes, such as a larger value, are not detected)",
    )
    # unset flags fall back to env config (ASOS_OCR_*, engine/config.py)
    ap.add_argument("--engine", default=None, choices=["pixelocr", "pixelocr-alt"])
    ap.add_argument("--preset", default=None, choices=["none", "minimal", "default", "aggressive"])
    ap.add_argument("--max-bytes", type=int, default=None)
    ap.add_argument("--doc-timeout-ms", type=int, default=None,
                    help="per-document wall budget; overruns quarantine as TIMEOUT (default: env/30000)")
    ap.add_argument("--master", default=None, help="override master for local runs")
    args = ap.parse_args()

    from activestorage_ocr_spark.operators.lineage import run_extraction_job
    from activestorage_ocr_spark.sources.session import build_session

    if args.master:
        spark = build_session(master=args.master, app_name=f"extract-{args.run_id}")
    else:
        # under spark-submit the master/conf come from the submit command
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName(f"extract-{args.run_id}").getOrCreate()
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    if args.input_format == "warc":
        import glob

        from activestorage_ocr_spark.sources.warc import read_warc, to_pages

        paths = sorted(glob.glob(args.input)) or [args.input]
        pages = to_pages(read_warc(spark, paths))
    else:
        pages = spark.read.parquet(args.input)
    summary = run_extraction_job(
        spark,
        pages,
        args.output,
        run_id=args.run_id,
        n_parts=args.n_parts,
        engine=args.engine,
        preset=args.preset,
        max_bytes=args.max_bytes,
        doc_timeout_ms=args.doc_timeout_ms,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
