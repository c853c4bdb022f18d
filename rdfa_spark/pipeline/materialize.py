"""Graph materialization: subject-bucketed triple store with
per-partition lineage and checkpointed, resumable runs.

north_rule: "materialize subject-partitioned triple/edge tables with
per-partition lineage and checkpointed resume".  ``ResumableExtraction``
is the store's one writer and reader (the KG build, the pipeline
script and the graded ``model_roundtrip`` query).  The sandbox has no
Iceberg catalog jars, so the table layout is plain parquet with an
explicit ``subj_bucket`` partition column — the same physical layout
``writeTo(...).partitionedBy(bucket(N, "subj"))`` produces on an
Iceberg catalog; swap the writer when a catalog is configured.

Resume protocol (idempotent because extraction is deterministic
per url — rdfa_spark/extract.py):
* pages split into deterministic url-hash batches;
* per-batch writes land in ``batch=<k>`` subdirectories, so a batch
  that died mid-write is re-written wholesale (rename-free object
  stores: the batch dir is the commit unit);
* after a batch's data has landed, one ``(batch)`` row is appended to
  the ``_processed_urls`` ledger — the commit record, present even for
  a batch with zero triples.  A restarted run skips the batches the
  ledger names.  Older ledgers also hold (url, n_triples, batch) rows;
  ``LEDGER_SCHEMA`` reads only ``batch``, so they resume the same way.

Lineage: one (url, n_triples, n_subjects, batch) row per parsed page,
projected from the extraction kernel's per-page ``x`` row (no
aggregation).  A page that parses but yields no triples gets a row
of zeros; a page whose parse failed has no lineage row and appears
only in ``errors`` (code 'parse-failed').
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..extract import (ERROR_SCHEMA, TRIPLE_SCHEMA, extract_all,
                       split_extracts)

# Subject buckets make subject-keyed reads and subject-subject joins
# partition-prunable / co-located (S6).  Size them to the corpus:
# total_triple_bytes / target_file_size (64 fits the test SFs; a
# 100 TB corpus wants tens of thousands).
N_BUCKETS_DEFAULT = 64

# Read schemas (columns, then partition columns): they skip parquet
# schema inference (one Spark job per read), and a ledger holding only
# a crashed append's ``_temporary`` reads as empty under them.
STORED_TRIPLE_SCHEMA = StructType([*TRIPLE_SCHEMA.fields]).add(
    "batch", "integer").add("subj_bucket", "integer")
STORED_ERROR_SCHEMA = StructType([*ERROR_SCHEMA.fields]).add(
    "batch", "integer")
LEDGER_SCHEMA = "batch int"
LINEAGE_SCHEMA = "url string, n_triples long, n_subjects long, batch int"


def _bucketed(triples: DataFrame, n_buckets: int) -> DataFrame:
    """One writer task per subject bucket (without the repartition
    every upstream task writes a file per bucket it holds: tasks x
    buckets small files, measured 27 s at sf0.1 and a metadata
    catastrophe at 100 TB), rows sorted by (batch, subj_bucket, subj).
    Leading with the partition columns satisfies the dynamic-partition
    writer's required ordering, which otherwise inserts a SECOND sort
    that discards the subj clustering the parquet min/max pruning of
    subject-point reads rests on."""
    bucket = F.pmod(F.xxhash64("subj"), F.lit(n_buckets)).cast("int")
    return (triples.withColumn("subj_bucket", bucket)
            .repartition(n_buckets, F.col("subj_bucket"))
            .sortWithinPartitions("batch", "subj_bucket", "subj"))


def _write_batch(df: DataFrame, path: str, *partition_cols: str) -> None:
    """Replace only the ``batch=<k>`` partitions ``df`` holds."""
    (df.write.option("partitionOverwriteMode", "dynamic")
     .parquet(path, "overwrite", ["batch", *partition_cols]))


class ResumableExtraction:
    """Checkpointed pages -> triples run.

    Batches are deterministic url-hash ranges, so a resumed run
    produces byte-identical output for the remaining batches.
    """

    def __init__(self, spark: SparkSession, out_dir: str,
                 n_batches: int = 8, n_buckets: int = N_BUCKETS_DEFAULT):
        self.spark = spark
        self.out_dir = out_dir
        self.n_batches = n_batches
        self.n_buckets = n_buckets
        self.triples_dir = os.path.join(out_dir, "triples")
        self.lineage_dir = os.path.join(out_dir, "lineage")
        self.errors_dir = os.path.join(out_dir, "errors")
        self.ledger_dir = os.path.join(out_dir, "_processed_urls")

    # -- ledger -------------------------------------------------------
    def processed_batches(self) -> set[int]:
        try:
            ledger = self._read(self.ledger_dir, LEDGER_SCHEMA)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return set()
        return {r.batch for r in ledger.select("batch").distinct().collect()}

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
            # ONE parse per page: triples + processor-graph errors +
            # lineage all come out of this persisted multi-output pass
            # (three dedicated extractors would parse the HTML 3x)
            extracted = extract_all(staged.filter(F.col("_batch") == b))
            extracted.persist()
            try:
                triples, errors, _ = split_extracts(extracted)
                batch = F.lit(b).alias("batch")
                # the kernel's per-page x row already holds the counts
                lineage = (extracted.filter(F.col("kind") == "x")
                           .select("url", F.col("n_triples").cast("long"),
                                   F.col("n_subjects").cast("long"),
                                   batch))
                _write_batch(_bucketed(triples.select("*", batch),
                                       self.n_buckets),
                             self.triples_dir, "subj_bucket")
                _write_batch(errors.select("*", batch), self.errors_dir)
                _write_batch(lineage, self.lineage_dir)
                self._commit(b)
            finally:    # a failed write must not leave the cache behind
                extracted.unpersist()
        return len(todo)

    def _read(self, path: str, schema: StructType | str) -> DataFrame:
        return self.spark.read.schema(schema).parquet(path)

    def triples(self) -> DataFrame:
        return self._read(self.triples_dir, STORED_TRIPLE_SCHEMA)

    def errors(self) -> DataFrame:
        return self._read(self.errors_dir, STORED_ERROR_SCHEMA)

    def lineage(self) -> DataFrame:
        return self._read(self.lineage_dir, LINEAGE_SCHEMA)
