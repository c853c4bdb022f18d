"""build_kg: the report equals direct counts over the store it wrote,
each stage's Spark jobs carry the stage's tag, a second call resumes
nothing, and a build killed between a batch's data and its ledger
marker resumes to the same store and report as a clean build."""

import dataclasses
import os
import signal
import subprocess
import sys
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from rdfa_spark.pages import load_pages
from rdfa_spark.pipeline import (KGReport, ResumableExtraction, build_kg,
                                 canonicalize, entity_mentions)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STAGES = ("materialize.run", "materialize.read", "materialize.write",
          "entities.count")
# Jobs of one build_kg call at sf0.001, 1 batch, 4 buckets, in the
# test session.  The sequence it replaced (run, triples().count(),
# canonicalize, entity write, canon distinct count) ran 22 there,
# canonicalization by connected components 20, a store of three
# tables written from one persisted extraction 16, and canonicalize
# with a label distinct and a block-cap window 13.
BUILD_JOBS = 12


def _direct_report(run: ResumableExtraction) -> dict:
    canon = canonicalize(entity_mentions(run.triples()))
    return {
        "pages_parsed": run.lineage().count(),
        "parse_failures": run.errors()
        .filter(F.col("code") == "parse-failed").count(),
        "triples": run.triples().count(),
        "entities": canon.select("canonical_id").distinct().count(),
    }


def _counts(report: KGReport) -> dict:
    out = dataclasses.asdict(report)
    del out["batches_run"]
    return out


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_path_factory):
    """One build under a caller's job group: (report, run, pages, the
    group's job ids)."""
    sc = spark.sparkContext
    pages = load_pages(spark, sf_dir)
    pages.count()                    # page synthesis outside the build
    out = str(tmp_path_factory.mktemp("build") / "kg")
    group = "build-kg-caller"
    sc.setJobGroup(group, "caller", False)
    try:
        report = build_kg(pages, out, n_batches=1, n_buckets=4)
        assert sc.getLocalProperty("spark.jobGroup.id") == group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    return report, ResumableExtraction(spark, out, n_batches=1,
                                       n_buckets=4), pages, jobs


def test_build_kg_report_equals_direct_counts(built):
    report, run, _, _ = built
    assert report.batches_run == 1
    assert _counts(report) == _direct_report(run)
    assert report.pages_parsed > 0 and report.triples > 0 \
        and report.entities > 0


def test_build_kg_second_call_runs_no_batch(built):
    report, run, pages, _ = built
    again = build_kg(pages, run.out_dir, n_batches=1, n_buckets=4)
    assert again == dataclasses.replace(report, batches_run=0)


def test_build_kg_tags_each_stage(spark, built):
    """Every job of the call is in the caller's group and carries
    exactly one stage tag; every stage ran at least one job."""
    _, _, _, jobs = built
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    tagged = {t: jobs & set(tracker.getJobIdsForTag(t)) for t in STAGES}
    assert all(tagged.values()), tagged
    assert sorted(j for ids in tagged.values() for j in ids) \
        == sorted(jobs)


def test_build_kg_job_count(built):
    _, _, _, jobs = built
    assert len(jobs) == BUILD_JOBS, sorted(jobs)


# The subprocess kills itself between batch 1's data and its marker.
CRASH = """
import os, signal, sys
from pyspark.sql import SparkSession
from rdfa_spark.pages import load_pages
from rdfa_spark.pipeline import build_kg
from rdfa_spark.pipeline.materialize import ResumableExtraction

commit = ResumableExtraction._commit
def crash(self, b):
    if b == 1:
        os.kill(os.getpid(), signal.SIGKILL)
    commit(self, b)
ResumableExtraction._commit = crash
spark = SparkSession.builder.getOrCreate()
build_kg(load_pages(spark, sys.argv[1]), sys.argv[2], n_batches=3,
         n_buckets=2)
"""


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stored(run: ResumableExtraction) -> list[Counter]:
    return [Counter(map(tuple, df.collect())) for df in
            (run.triples(), run.errors(), run.lineage())]


def test_build_kg_resumes_after_crash(spark, sf_dir, tmp_path):
    crashed = str(tmp_path / "crashed")
    env = dict(os.environ,
               PYSPARK_SUBMIT_ARGS="--master local[2] pyspark-shell",
               PYTHONPATH=os.pathsep.join(
                   filter(None, [ROOT, os.environ.get("PYTHONPATH")])))
    proc = subprocess.Popen(
        [sys.executable, "-c", CRASH, sf_dir, crashed], env=env,
        stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE, start_new_session=True)
    try:
        _, err = proc.communicate(timeout=600)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    assert proc.returncode == -signal.SIGKILL, err[-4000:]
    # the gateway JVM and its Python workers exit on their own once
    # the driver's pipes close
    deadline = time.monotonic() + 60
    while _group_alive(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.5)
    leaked = _group_alive(proc.pid)
    if leaked:
        os.killpg(proc.pid, signal.SIGKILL)
    assert not leaked, "the crashed build's process group outlived it"

    run = ResumableExtraction(spark, crashed, n_batches=3, n_buckets=2)
    assert run.processed_batches() == {0}
    assert set(r.batch for r in run.lineage().select("batch")
               .distinct().collect()) == {0, 1}   # batch 1 had landed

    pages = load_pages(spark, sf_dir)
    resumed = build_kg(pages, crashed, n_batches=3, n_buckets=2)
    clean = build_kg(pages, str(tmp_path / "clean"), n_batches=3,
                     n_buckets=2)
    assert (resumed.batches_run, clean.batches_run) == (2, 3)
    assert _counts(resumed) == _counts(clean)
    assert _stored(run) == _stored(ResumableExtraction(
        spark, str(tmp_path / "clean"), n_batches=3, n_buckets=2))
    ledger = spark.read.parquet(run.ledger_dir).collect()
    assert sorted(r.batch for r in ledger) == [0, 1, 2]
