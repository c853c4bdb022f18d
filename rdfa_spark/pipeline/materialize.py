"""Graph materialization: subject-bucketed triple store with
per-partition lineage and checkpointed, resumable runs.

north_rule: "materialize subject-partitioned triple/edge tables with
per-partition lineage and checkpointed resume".  The sandbox has no
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
* after a batch's data has landed, one (url NULL, n_triples 0, batch)
  marker row is appended to the ``_processed_urls`` ledger — the
  commit record, present even for a batch with zero triples.  A
  restarted run skips the batches the ledger names.  Older stores
  also hold per-url ledger rows; ``processed_batches`` reads only
  ``batch``, so they resume the same way.

Lineage: one (url, n_triples, n_subjects, batch) row per parsed page,
projected from the extraction kernel's per-page ``x`` row (no
aggregation).  A page that parses but yields no triples gets a row
of zeros; a page whose parse failed has no lineage row and appears
only in ``errors`` (code 'parse-failed').
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extract import extract_all, split_extracts

N_BUCKETS_DEFAULT = 64


def with_subject_bucket(triples: DataFrame,
                        n_buckets: int = N_BUCKETS_DEFAULT) -> DataFrame:
    return triples.withColumn(
        "subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(n_buckets))
        .cast("int"))


def write_triples(triples: DataFrame, path: str,
                  n_buckets: int = N_BUCKETS_DEFAULT,
                  mode: str = "append") -> None:
    """Subject-bucketed write (S6).  Bucketing by subject makes
    subject-keyed reads and downstream subject-subject joins
    partition-prunable / co-located.

    The write repartitions ON the bucket column first: without it,
    every upstream task writes one file per bucket it happens to
    hold (tasks x buckets small files — measured 27 s at sf0.1 and
    a metadata catastrophe at 100 TB); with it, each bucket is one
    writer task -> one well-sized file.  Rows are sorted by subj
    within each file so parquet min/max stats prune subject-point
    reads inside a bucket.  Size ``n_buckets`` to the corpus:
    buckets ~ total_triple_bytes / target_file_size (64 fits the
    test SFs; a 100 TB corpus wants tens of thousands)."""
    # sort by (partition column, subj): the dynamic-partition writer
    # requires its input ordered by the partition column and inserts
    # its own sort otherwise — which both pays a SECOND sort and
    # discards the subj clustering the min/max pruning claim rests
    # on.  Leading with subj_bucket satisfies the writer's required
    # ordering, so this one sort survives into the files.
    (with_subject_bucket(triples, n_buckets)
     .repartition(n_buckets, F.col("subj_bucket"))
     .sortWithinPartitions("subj_bucket", "subj")
     .write.mode(mode)
     .partitionBy("subj_bucket")
     .parquet(path))


class ResumableExtraction:
    """Checkpointed pages -> triples run.

    Batches are deterministic url-hash ranges, so a resumed run
    produces byte-identical output for the remaining batches.
    """

    def __init__(self, spark: SparkSession, out_dir: str,
                 n_batches: int = 8,
                 n_buckets: int = N_BUCKETS_DEFAULT):
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
            ledger = self.spark.read.parquet(self.ledger_dir)
        except Exception:
            return set()
        return {r.batch for r in
                ledger.select("batch").distinct().collect()}

    def _batch_col(self):
        return F.pmod(F.xxhash64("url"), F.lit(self.n_batches)) \
                .cast("int")

    # -- run ----------------------------------------------------------
    def run(self, pages: DataFrame,
            max_batches: int | None = None) -> int:
        """Process unfinished batches; returns #batches completed in
        this call.  Safe to call repeatedly (resume)."""
        done = self.processed_batches()
        todo = [b for b in range(self.n_batches) if b not in done]
        if max_batches is not None:
            todo = todo[:max_batches]
        staged = pages.withColumn("_batch", self._batch_col())
        for b in todo:
            batch_pages = staged.filter(F.col("_batch") == b) \
                                .drop("_batch")
            # ONE parse per page: triples + processor-graph errors +
            # lineage all come out of this persisted multi-output pass
            # (three dedicated extractors would parse the HTML 3x)
            extracted = extract_all(batch_pages).persist()
            triples, errors, _ = split_extracts(extracted)
            # the kernel's per-page x row already holds the counts
            lineage = (extracted.filter(F.col("kind") == "x")
                       .select("url",
                               F.col("n_triples").cast("long"),
                               F.col("n_subjects").cast("long")))
            # same one-writer-task-per-bucket discipline as
            # write_triples (small-file hygiene at scale)
            # same (partition cols, subj) sort rule as write_triples:
            # the writer's required ordering is satisfied, no second
            # sort, subj clustering survives into the files
            (with_subject_bucket(triples, self.n_buckets)
             .withColumn("batch", F.lit(b))
             .repartition(self.n_buckets, F.col("subj_bucket"))
             .sortWithinPartitions("batch", "subj_bucket", "subj")
             .write.mode("overwrite")
             .partitionBy("batch", "subj_bucket")
             .option("partitionOverwriteMode", "dynamic")
             .parquet(self.triples_dir))
            (errors.withColumn("batch", F.lit(b))
             .write.mode("overwrite")
             .partitionBy("batch")
             .option("partitionOverwriteMode", "dynamic")
             .parquet(self.errors_dir))
            (lineage.withColumn("batch", F.lit(b))
             .write.mode("overwrite")
             .partitionBy("batch")
             .option("partitionOverwriteMode", "dynamic")
             .parquet(self.lineage_dir))
            # commit point: the marker appears only after data landed
            (self.spark.range(0, 1, 1, 1).select(
                F.lit(None).cast("string").alias("url"),
                F.lit(0).cast("long").alias("n_triples"),
                F.lit(b).cast("int").alias("batch"))
             .write.mode("append").parquet(self.ledger_dir))
            extracted.unpersist()
        return len(todo)

    def triples(self) -> DataFrame:
        return self.spark.read.parquet(self.triples_dir)

    def errors(self) -> DataFrame:
        return self.spark.read.parquet(self.errors_dir)
