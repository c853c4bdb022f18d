#!/usr/bin/env python
"""Production entrypoint: the full KG-construction pipeline as a
spark-submit job (north_rule: "runs via spark-submit --py-files on
multi-executor clusters").

    # package the library
    python scripts/make_pyfiles.py           # -> dist/rdfa_spark.zip
    # run (any master: yarn/k8s/standalone/local[N])
    spark-submit --master <master> \
        --py-files dist/rdfa_spark.zip \
        scripts/run_pipeline.py \
        --pages <pages parquet/iceberg path or sf dir> \
        --out /path/to/kg_out [--batches 64] [--buckets 64]

Stages: resumable extraction (one parse per page: subject-bucketed
triples + batch-partitioned processor-graph errors + per-page lineage +
processed-url ledger) -> entity mentions -> exact-label blocking ->
connected-components canonicalization -> entity table materialize.
Re-running with the same --out skips completed batches (idempotent:
extraction is deterministic per url).
"""

from __future__ import annotations

import argparse
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
    from rdfa_spark.pipeline.linking import (canonicalize,
                                             entity_mentions)
    from rdfa_spark.pipeline.materialize import ResumableExtraction

    if os.path.isfile(os.path.join(args.pages, "documents.parquet")):
        pages = load_pages(spark, args.pages)
    else:
        pages = spark.read.parquet(args.pages)

    run = ResumableExtraction(spark, args.out, n_batches=args.batches,
                              n_buckets=args.buckets)
    done = run.run(pages)
    print(f"pipeline: extraction completed {done} new batches")

    triples = run.triples()
    n_triples = triples.count()

    mentions = entity_mentions(triples)
    canon = canonicalize(mentions)
    canon.write.mode("overwrite").parquet(
        os.path.join(args.out, "entities"))
    n_entities = canon.select("canonical_id").distinct().count()

    print(f"PIPELINE_OK triples={n_triples} entities={n_entities}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
