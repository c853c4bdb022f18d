"""bench_extra.py: plan capture never overwrites a plan record, and
`time` reports per-repeat job and stage counts and Python-worker
CPU-seconds."""

import pytest

import bench_extra


def test_plan_refuses_existing_record(tmp_path, monkeypatch, capsys):
    (tmp_path / "language_id_before.txt").write_text("committed plan")

    def no_spark():
        raise AssertionError("Spark started before the overwrite check")

    monkeypatch.setattr(bench_extra, "_session", no_spark)
    with pytest.raises(SystemExit) as err:
        bench_extra.cmd_plan(["filter_corpus", "language_id"], "before",
                             dest=str(tmp_path))
    assert err.value.code == 1
    assert str(tmp_path / "language_id_before.txt") in \
        capsys.readouterr().err
    assert (tmp_path / "language_id_before.txt").read_text() == \
        "committed plan"
    assert not (tmp_path / "filter_corpus_before.txt").exists()


class _KeepSession:
    """The shared test session, with ``stop`` a no-op."""

    def __init__(self, spark):
        self._spark = spark

    def __getattr__(self, name):
        return getattr(self._spark, name)

    def stop(self):
        pass


def test_time_records_job_and_stage_counts(spark, monkeypatch, capsys):
    """Each repeat of ``time`` reports the Spark jobs and stages of its
    own job group and its Python workers' CPU-seconds, and leaves no
    job group set behind."""
    import json

    from pyspark.sql import functions as F

    def grouped(s, sf_dir):
        return s.range(100).groupBy((F.col("id") % 3).alias("k")).count()

    monkeypatch.setattr(bench_extra, "_session", lambda: (
        _KeepSession(spark), {"grouped": grouped}))
    bench_extra.cmd_time(["grouped"], 2, False)
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(rec["queries"]["grouped"]) == 2
    shapes = rec["counts"]["grouped"]
    assert len(shapes) == 2
    assert all(c["jobs"] >= 1 and c["stages"] >= 1 for c in shapes)
    assert all(c["python_cpu_s"] >= 0 for c in shapes)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
