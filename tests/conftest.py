from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ingestao_dados_poli_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(tag, fn)`` runs ``fn()`` under job group ``tag`` and
    returns how many Spark jobs it ran, read after the listener bus has
    delivered every job event (an earlier read can under-count)."""
    sc = spark.sparkContext

    def jobs(tag, fn):
        sc.setJobGroup(tag, tag)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    return jobs
