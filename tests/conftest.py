from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mnemo_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("MNEMO_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # MNEMO_TEST_CPUS: tools/partest.py runs N pytest processes with
    # local[4] each. Unset, get_spark sizes the session from the host
    # (SPARK_GRAFT_CPUS, else the CPU count)
    cpus = os.environ.get("MNEMO_TEST_CPUS")
    s = get_spark("mnemo_tests", cpus=int(cpus) if cpus else None)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
