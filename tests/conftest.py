from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from hyrise_generalized_dedup_spark.session import get_spark  # noqa: E402

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_tiny() -> str:
    return SF_TINY


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL
