"""Graph materialization: one subject-bucketed store table per KG
build, with per-page lineage and checkpointed, resumable runs.

north_rule: "materialize subject-partitioned triple/edge tables with
per-partition lineage and checkpointed resume".  ``ResumableExtraction``
is the store's one writer and reader (the KG build, the pipeline
script and the graded ``model_roundtrip`` query).  The sandbox has no
Iceberg catalog jars, so the table layout is plain parquet with an
explicit ``subj_bucket`` partition column — the same physical layout
``writeTo(...).partitionedBy(bucket(N, "subj"))`` produces on an
Iceberg catalog; swap the writer when a catalog is configured.

Store layout: ``<out>/rows`` is the ``extract_all`` table itself
(without the page text), ONE parse and ONE write per batch, partitioned
by ``batch=<k>/subj_bucket=<n>``; the row kind (t, e, x) is a column,
so a batch writes one file per bucket.  ``rows()`` is the store under
its fixed schema; ``triples()``, ``errors()`` and ``lineage()`` each
filter it on one kind and project that kind's columns.

Resume protocol (idempotent because extraction is deterministic
per url — rdfa_spark/extract.py):
* pages split into deterministic url-hash batches;
* a batch's write replaces only the partitions it holds (dynamic
  partition overwrite), so a batch that died mid-write is re-written
  wholesale (rename-free object stores: the batch is the commit unit);
* after a batch's data has landed, one ``(batch)`` row is appended to
  the ``_ledger`` directory — the commit record, present even
  for a batch with zero triples.  A restarted run skips the batches
  the ledger names.
* the store and ledger names differ from every older layout's
  (``store`` + ``_committed_batches``, partitioned by kind; the
  three-table ``_processed_urls``), so a directory an older layout
  wrote is built afresh beside its old files, never resumed into.

Lineage: one (url, n_triples, n_subjects, batch) row per parsed page,
the extraction kernel's per-page ``x`` row (no aggregation).  A page
that parses but yields no triples gets a row of zeros; a page whose
parse failed has no lineage row and appears only in ``errors`` (code
'parse-failed').
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..extract import (ERROR_SCHEMA, EXTRACT_ALL_SCHEMA, TRIPLE_SCHEMA,
                       extract_all)

# Subject buckets make subject-keyed reads and subject-subject joins
# partition-prunable / co-located (S6).  Size them to the corpus:
# total_triple_bytes / target_file_size (64 fits the test SFs; a
# 100 TB corpus wants tens of thousands).
N_BUCKETS_DEFAULT = 64

PARTITION_COLS = ["batch", "subj_bucket"]

# Read schemas (columns, then partition columns): they skip parquet
# schema inference (one Spark job per read), and a ledger holding only
# a crashed append's ``_temporary`` reads as empty under them.
STORE_SCHEMA = StructType(
    [f for f in EXTRACT_ALL_SCHEMA.fields if f.name != "text"]
).add("batch", "integer").add("subj_bucket", "integer")
LEDGER_SCHEMA = "batch int"


def _bucketed(rows: DataFrame, n_buckets: int) -> DataFrame:
    """One writer task per subject bucket (without the repartition
    every upstream task writes a file per bucket it holds: tasks x
    buckets small files, measured 27 s at sf0.1 and a metadata
    catastrophe at 100 TB), so a batch writes one file per bucket it
    holds, every kind in it.  Rows are sorted by (batch, subj_bucket,
    kind, subj).  Leading with the partition columns satisfies the
    dynamic-partition writer's required ordering, which otherwise
    inserts a SECOND sort that discards the subj clustering the
    parquet min/max pruning of subject-point reads rests on; ``kind``
    next keeps each kind's rows contiguous in the file, so in a file
    of many row groups a kind filter skips the other kinds' groups by
    their min/max.  Error and lineage rows
    have no subject: they bucket by url, so they spread over the
    buckets instead of piling into one."""
    bucket = F.pmod(F.xxhash64(F.coalesce("subj", "url")),
                    F.lit(n_buckets)).cast("int")
    return (rows.withColumn("subj_bucket", bucket)
            .repartition(n_buckets, F.col("subj_bucket"))
            .sortWithinPartitions(*PARTITION_COLS, "kind", "subj"))


class ResumableExtraction:
    """Checkpointed pages -> store run.

    Batches are deterministic url-hash ranges, so a resumed run
    produces byte-identical output for the remaining batches.
    """

    def __init__(self, spark: SparkSession, out_dir: str,
                 n_batches: int = 8, n_buckets: int = N_BUCKETS_DEFAULT):
        self.spark = spark
        self.out_dir = out_dir
        self.n_batches = n_batches
        self.n_buckets = n_buckets
        self.store_dir = os.path.join(out_dir, "rows")
        # the triples have no directory of their own: this names the
        # whole store, every kind (kgbench sizes it)
        self.triples_dir = self.store_dir
        self.ledger_dir = os.path.join(out_dir, "_ledger")

    # -- ledger -------------------------------------------------------
    def processed_batches(self) -> set[int]:
        try:
            ledger = self._read(self.ledger_dir, LEDGER_SCHEMA)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return set()
        return {r.batch for r in ledger.collect()}

    def _commit(self, b: int) -> None:
        """Append batch b's marker, once the batch's data has landed."""
        (self.spark.range(0, 1, 1, 1)
         .select(F.lit(b).cast("int").alias("batch"))
         .write.mode("append").parquet(self.ledger_dir))

    # -- run ----------------------------------------------------------
    def run(self, pages: DataFrame) -> int:
        """Process unfinished batches; returns #batches completed in
        this call.  Safe to call repeatedly (resume)."""
        done = self.processed_batches()
        todo = [b for b in range(self.n_batches) if b not in done]
        staged = pages.withColumn("_batch", F.pmod(
            F.xxhash64("url"), F.lit(self.n_batches)).cast("int"))
        for b in todo:
            # ONE parse per page and ONE write per batch: triples,
            # processor-graph errors and lineage are the kinds of the
            # same rows
            extracted = (extract_all(staged.filter(F.col("_batch") == b))
                         .drop("text")
                         .withColumn("batch", F.lit(b).cast("int")))
            (_bucketed(extracted, self.n_buckets).write
             .option("partitionOverwriteMode", "dynamic")
             .parquet(self.store_dir, "overwrite", PARTITION_COLS))
            self._commit(b)
        return len(todo)

    def _read(self, path: str, schema: StructType | str) -> DataFrame:
        return self.spark.read.schema(schema).parquet(path)

    def rows(self) -> DataFrame:
        """The whole store, every kind, under its fixed schema."""
        return self._read(self.store_dir, STORE_SCHEMA)

    def _kind(self, kind: str, *cols) -> DataFrame:
        return self.rows().where(F.col("kind") == kind).select(*cols)

    def triples(self) -> DataFrame:
        return self._kind("t", *TRIPLE_SCHEMA.fieldNames(), "batch",
                          "subj_bucket")

    def errors(self) -> DataFrame:
        return self._kind("e", *ERROR_SCHEMA.fieldNames(), "batch")

    def lineage(self) -> DataFrame:
        return self._kind("x", "url", F.col("n_triples").cast("long"),
                          F.col("n_subjects").cast("long"), "batch")
