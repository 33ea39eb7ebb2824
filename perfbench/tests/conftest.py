"""Fixtures for the benchmark's self-tests (run from the repository
root: ``python -m pytest perfbench/tests -q``)."""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("TZ", "UTC")
    from olr_cdc_oracle_no_dbz_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()
