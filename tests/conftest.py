from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from psvm_spark.session import get_spark

    s = get_spark("psvm_spark_tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_bench():
    """The scale bench.py runs at."""
    return str(Path(SF_DIR).with_name("sf0.1"))
