from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

PARITY_SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from tstables_spark import get_spark
    from tstables_spark.session import DEFAULT_CPUS

    s = get_spark("tstables_spark_tests", cpus=DEFAULT_CPUS)
    yield s
    # stopping removes the accumulator server's Unix socket file
    s.stop()


@pytest.fixture(scope="session")
def duck():
    from tests.parity import duck_connect

    con = duck_connect(PARITY_SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return PARITY_SF_DIR
