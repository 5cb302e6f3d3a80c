from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from engine.io import get_spark

    s = get_spark(app="engine-tests")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    from tests.oracle import DEFAULT_SF_DIR

    return DEFAULT_SF_DIR
