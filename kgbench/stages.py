"""The benchmark's stage library: each stage is one call into a public
``rdfa_spark`` function followed by the action the pipeline would
take on its result.

A workload's job is an ordered list of stage names (``JOBS``).  The
untraced run chains them as production code does; the traced run
walks the longer ``LEDGER`` list inside spans, materializing each
stage's output before the next one starts, so every layer is timed
on its own and every per-layer metric exists on every workload.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfa_spark.extract import (extract_all, extract_errors,
                                extract_triples)
from rdfa_spark.pipeline.linking import (canonicalize, entity_mentions,
                                         exact_candidate_pairs,
                                         lsh_candidate_pairs)
from rdfa_spark.pipeline.materialize import ResumableExtraction

from . import gen

N_BATCHES = 1           # ResumableExtraction batches
N_BUCKETS = 4           # subject buckets of the triple store

JOBS = {
    "crawl_extract": ["extract.triples"],
    # scripts/run_pipeline.py's stage sequence
    "kg_build": ["materialize.run", "extract.errors", "materialize.read",
                 "linking.mentions", "cc.components",
                 "materialize.write", "entities.count"],
}

LEDGER = ["extract.passthrough", "extract.triples", "extract.all",
          "extract.errors", "materialize.run", "materialize.resume",
          "materialize.read", "linking.mentions", "linking.exact_pairs",
          "linking.lsh_pairs", "cc.components", "materialize.write",
          "entities.count"]


@dataclass
class Inputs:
    pages: DataFrame
    planted: gen.Pages                  # what the job must produce


@dataclass
class Ctx:
    """State of one pass over a job or the ledger."""
    spark: object
    inputs: Inputs
    out_dir: str
    traced: bool = False
    failures: list[str] = field(default_factory=list)
    parse_failures: int = 0
    counts: dict = field(default_factory=dict)
    run: ResumableExtraction | None = None
    triples: DataFrame | None = None
    mentions: DataFrame | None = None
    pairs: DataFrame | None = None
    lsh_pairs: DataFrame | None = None
    canon: DataFrame | None = None

    def expect(self, what: str, got, want) -> None:
        if got != want:
            self.failures.append(f"{what}: got {got}, want {want}")

    def mat(self, df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True) if self.traced else df


def spark_digest(df: DataFrame) -> tuple[int, int]:
    """(rows, multiset digest) of a triples frame; the Spark mirror of
    ``gen.multiset_digest``."""
    def nz(c):
        return F.coalesce(F.col(c), F.lit(gen.NULL))
    key = F.concat_ws(gen.SEP, "url", "subj", "pred", nz("obj"),
                      F.col("obj_is_literal").cast("string"),
                      nz("obj_datatype"), nz("obj_lang"))
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10) \
         .cast("decimal(38,0)")
    row = df.agg(F.count("*").alias("n"), F.sum(h).alias("d")).first()
    return row.n, int(row.d or 0)


def _check_triples(c: Ctx, what: str, df: DataFrame) -> int:
    n, d = spark_digest(df)
    c.expect(f"{what} rows", n, c.inputs.planted.n_triples)
    c.expect(f"{what} digest", d, c.inputs.planted.digest)
    return n


def _extract_triples(c: Ctx):
    df = extract_triples(c.inputs.pages)
    c.counts["rows_out"] = _check_triples(c, "extract_triples", df)
    c.parse_failures += df.parse_failures.value
    c.counts["parse_failures"] = df.parse_failures.value


def _passthrough(c: Ctx):
    proj = c.inputs.pages.select("url", "html")
    (proj.mapInArrow(lambda it: it, proj.schema)
     .write.format("noop").mode("overwrite").save())


def _extract_all(c: Ctx):
    row = extract_all(c.inputs.pages).agg(
        F.count("*").alias("n"),
        F.sum((F.col("code") == "parse-failed").cast("int"))
         .alias("failed")).first()
    c.counts["all_rows"] = row.n
    c.counts["parse_failed_rows"] = int(row.failed or 0)
    c.parse_failures += c.counts["parse_failed_rows"]


def _extract_errors(c: Ctx):
    (extract_errors(c.inputs.pages).write.mode("overwrite")
     .parquet(os.path.join(c.out_dir, "errors")))


def _materialize_run(c: Ctx):
    c.run = ResumableExtraction(c.spark, os.path.join(c.out_dir, "kg"),
                                n_batches=N_BATCHES, n_buckets=N_BUCKETS)
    c.expect("batches run", c.run.run(c.inputs.pages), N_BATCHES)


def _materialize_resume(c: Ctx):
    c.expect("batches on resume", c.run.run(c.inputs.pages), 0)


def _materialize_read(c: Ctx):
    c.triples = c.run.triples()


def check_stored(c: Ctx) -> None:
    """The stored triple set equals the planted one; a full scan, so it
    runs outside the timed job."""
    _check_triples(c, "stored triples", c.triples)


def _mentions(c: Ctx):
    c.mentions = c.mat(entity_mentions(c.triples))


def _exact_pairs(c: Ctx):
    c.pairs = c.mat(exact_candidate_pairs(c.mentions))


def _lsh_pairs(c: Ctx):
    labels = (c.mentions.select("label").distinct()
              .withColumn("text", F.col("label")))
    c.lsh_pairs = c.mat(
        lsh_candidate_pairs(labels, "label", "text")
        .select(F.col("id_a").alias("label_a"),
                F.col("id_b").alias("label_b")))


def _components(c: Ctx):
    c.canon = c.mat(canonicalize(c.mentions))


def _write_entities(c: Ctx):
    c.canon.write.mode("overwrite").parquet(
        os.path.join(c.out_dir, "entities"))


def _count_entities(c: Ctx):
    n = c.canon.select("canonical_id").distinct().count()
    c.counts["entities"] = n
    c.expect("canonical entities", n, c.inputs.planted.entities_planted)


STAGES = {
    "extract.passthrough": _passthrough,
    "extract.triples": _extract_triples,
    "extract.all": _extract_all,
    "extract.errors": _extract_errors,
    "materialize.run": _materialize_run,
    "materialize.resume": _materialize_resume,
    "materialize.read": _materialize_read,
    "linking.mentions": _mentions,
    "linking.exact_pairs": _exact_pairs,
    "linking.lsh_pairs": _lsh_pairs,
    "cc.components": _components,
    "materialize.write": _write_entities,
    "entities.count": _count_entities,
}


def store_checks(c: Ctx) -> None:
    """After a kg_build job: the store holds the planted triples and
    resuming it runs nothing."""
    check_stored(c)
    _materialize_resume(c)


def count_parse_failed(c: Ctx) -> None:
    """After a kg_build job: pages that failed to parse, from the
    errors table it wrote."""
    c.parse_failures += (
        c.spark.read.parquet(os.path.join(c.out_dir, "errors"))
        .filter(F.col("code") == "parse-failed").count())


def run_job(c: Ctx, workload: str) -> None:
    for name in JOBS[workload]:
        STAGES[name](c)


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
