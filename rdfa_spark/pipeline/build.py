"""The KG build as one call: resumable extraction (one parse and one
store write per batch: subject-bucketed triples, processor-graph
errors and per-page lineage as row kinds of one table, then a batch
ledger marker) -> entity mentions -> canonical ids (the min label of
each exact-label block) -> entity table.
A second call on the same ``out_dir`` skips the committed batches.

Each stage's jobs carry a Spark job tag of its name; unlike a job
group, a tag leaves a caller's group in place.  The report's counts
come from one aggregate over the store's rows: its lineage rows and
'parse-failed' error rows (one per page) and the lineage rows'
``n_triples``, not a count of the triple rows.  A page with null html
has no row of either kind, so it counts nowhere.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame

from .linking import canonicalize, entity_mentions
from .materialize import ResumableExtraction


@dataclass(frozen=True)
class KGReport:
    batches_run: int            # by this call
    pages_parsed: int
    parse_failures: int
    triples: int
    entities: int


@contextmanager
def _stage(sc, tag: str):
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


def build_kg(pages: DataFrame, out_dir: str, *, n_batches: int,
             n_buckets: int) -> KGReport:
    spark = pages.sparkSession
    sc = spark.sparkContext
    run = ResumableExtraction(spark, out_dir, n_batches=n_batches,
                              n_buckets=n_buckets)
    with _stage(sc, "materialize.run"):
        batches_run = run.run(pages)
    with _stage(sc, "materialize.read"):
        counts = run.rows().selectExpr(
            "count_if(kind = 'x') AS pages_parsed",
            "count_if(kind = 'e' AND code = 'parse-failed') "
            "AS parse_failures",
            "coalesce(sum(n_triples), 0) AS triples").first().asDict()
    canon = canonicalize(entity_mentions(run.triples()))
    entities_dir = os.path.join(out_dir, "entities")
    with _stage(sc, "materialize.write"):
        canon.write.mode("overwrite").parquet(entities_dir)
    with _stage(sc, "entities.count"):
        entities = (spark.read.schema(canon.schema).parquet(entities_dir)
                    .select("canonical_id").distinct().count())
    return KGReport(batches_run=batches_run, entities=entities, **counts)
