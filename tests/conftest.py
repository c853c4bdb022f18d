import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from rdfa_spark.session import get_spark
    s = get_spark("rdfa_spark_tests", cpus=os.environ.get(
        "SPARK_GRAFT_CPUS", "4"))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def pin(monkeypatch):
    """``pin(module, NAME=value, ...)`` sets module constants for one
    test.  The operators read their operating points (``TOP_K``,
    ``LSH_PLANES``, ``MAX_HAMMING``, ...) at call time, on the driver,
    so setting them here reaches the kernels too."""
    def set_constants(module, **constants):
        for name, value in constants.items():
            monkeypatch.setattr(module, name, value)
    return set_constants
