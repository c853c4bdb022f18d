#!/usr/bin/env python
"""Production entrypoint: ``rdfa_spark.pipeline.build_kg`` as a
spark-submit job (north_rule: "runs via spark-submit --py-files on
multi-executor clusters").

    python scripts/make_pyfiles.py           # -> dist/rdfa_spark.zip
    spark-submit --master <master> --py-files dist/rdfa_spark.zip \
        scripts/run_pipeline.py --pages <pages parquet path or sf dir> \
        --out /path/to/kg_out [--batches 64] [--buckets 64]

Prints one ``PIPELINE_OK {json}`` line, the build's report.  Re-running
with the same --out skips completed batches.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True,
                    help="pages parquet path, or a testdata sf dir "
                         "to synthesize pages from documents.parquet")
    ap.add_argument("--out", required=True)
    ap.add_argument("--batches", type=int, default=16)
    ap.add_argument("--buckets", type=int, default=64)
    args = ap.parse_args()

    spark = SparkSession.builder.getOrCreate()
    # import after the session exists so --py-files zips resolve
    from rdfa_spark.pages import load_pages
    from rdfa_spark.pipeline import build_kg

    if os.path.isfile(os.path.join(args.pages, "documents.parquet")):
        pages = load_pages(spark, args.pages)
    else:
        pages = spark.read.parquet(args.pages)

    report = build_kg(pages, args.out, n_batches=args.batches,
                      n_buckets=args.buckets)
    print("PIPELINE_OK " + json.dumps(vars(report)))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
