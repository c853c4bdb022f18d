"""bench_extra.py's plan capture never overwrites a plan record."""

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
