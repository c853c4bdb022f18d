"""The stat-checked zipimport invalidation (``rdfa_spark._zipcache``).

Without Spark: an unchanged archive is never re-read, a rewritten one
is read once whatever its importer count, a deleted one does not
raise. In Spark's Python workers: once a worker has run an
``rdfa_spark`` kernel, a task's ``importlib.invalidate_caches()``
reads no zip directory."""

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from collections import Counter

import pytest

import rdfa_spark  # noqa: F401  (installs the check)
from rdfa_spark import _zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zip directories lazily; "
           "no check is installed")


def _write_archive(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zcpkg/__init__.py", "")
        z.writestr("zcpkg/sub/__init__.py", "")
        z.writestr("zcpkg/sub/mod.py", f"VALUE = {value!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip package on ``sys.path`` with ``zcpkg.sub.mod`` imported,
    and a per-archive counter around ``zipimport._read_directory``."""
    path = str(tmp_path / "zcpkg.zip")
    _write_archive(path, 1)
    monkeypatch.syspath_prepend(path)
    reads = Counter()
    stdlib_read = zipimport._read_directory

    def counted(archive):
        reads[archive] += 1
        return stdlib_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    try:
        import zcpkg.sub.mod
        assert zcpkg.sub.mod.VALUE == 1
        reads.clear()
        yield path, reads
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zcpkg"]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache
                    if k.startswith(path)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(path, None)


def _importers(path):
    return [imp for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
            and imp.archive == path]


def test_installed_over_stdlib_once():
    method = zipimport.zipimporter.invalidate_caches
    assert method.__wrapped__.__module__ == "zipimport"
    importlib.reload(_zipcache)
    again = zipimport.zipimporter.invalidate_caches
    assert again.__wrapped__ is method.__wrapped__


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    assert len(_importers(path)) >= 2
    importlib.invalidate_caches()  # stamps the archive: at most 1 read
    assert reads[path] <= 1
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads[path] == 0
    assert all(imp._files is zipimport._zip_directory_cache[path]
               for imp in _importers(path))


def test_rewritten_archive_is_read_once(archive):
    path, reads = archive
    importlib.invalidate_caches()
    old = os.stat(path)
    _write_archive(path, "rewritten")
    os.utime(path, ns=(old.st_atime_ns, old.st_mtime_ns + 10**9))
    reads.clear()
    importlib.invalidate_caches()
    assert reads[path] == 1
    assert len(_importers(path)) >= 2
    for name in ("zcpkg.sub.mod", "zcpkg.sub", "zcpkg"):
        sys.modules.pop(name)
    import zcpkg.sub.mod
    assert zcpkg.sub.mod.VALUE == "rewritten"
    reads.clear()
    importlib.invalidate_caches()
    assert reads[path] == 0


def test_deleted_archive_does_not_raise(archive):
    path, reads = archive
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    assert path not in zipimport._zip_directory_cache
    assert all(imp._files == {} for imp in _importers(path))


WORKER_SCRIPT = textwrap.dedent("""
    import json, sys
    sys.path.insert(0, sys.argv[1])
    from pyspark.sql import SparkSession
    from scripts.make_pyfiles import main as make_zip

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.addPyFile(make_zip())
    from rdfa_spark.extract import extract_triples

    pages = spark.createDataFrame(
        [(f"http://ex.com/{i}",
          b'<p about="#a" property="http://ex.com/p">v</p>')
         for i in range(8)], "url string, html binary").repartition(4)
    assert extract_triples(pages).count() == 8

    def count_reads(batches):
        import importlib, os, zipimport
        import pyarrow as pa
        reads = []
        stdlib_read = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return stdlib_read(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stdlib_read
        importers = sum(isinstance(i, zipimport.zipimporter)
                        for i in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "pid": os.getpid(), "reads": len(reads),
            "importers": importers}])

    rows = spark.range(0, 8, 1, 4).mapInArrow(
        count_reads, "pid long, reads long, importers long").collect()
    print("COUNTS " + json.dumps([r.asDict() for r in rows]))
    spark.stop()
""")


def test_worker_invalidation_reads_no_zip_directory(tmp_path):
    """At ``local[2]``, after one ``rdfa_spark`` kernel has run, every
    task of a second ``mapInArrow`` counts 0 zip-directory reads
    around ``importlib.invalidate_caches()``, with the workers holding
    zip importers for ``pyspark.zip`` and the shipped package."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "worker_reads.py"
    script.write_text(WORKER_SCRIPT)
    proc = subprocess.run([sys.executable, str(script), root],
                          cwd=str(tmp_path), capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = next(ln for ln in proc.stdout.splitlines()
                if ln.startswith("COUNTS "))
    counts = json.loads(line[len("COUNTS "):])
    assert len(counts) == 4
    assert all(c["importers"] >= 2 for c in counts), counts
    assert [c["reads"] for c in counts] == [0] * 4, counts
