from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ingestao_dados_poli_spark.obs import harvest  # noqa: E402
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
    returns how many Spark jobs it ran (``obs.harvest``; the micro-batch
    jobs of streams started inside count too)."""

    def jobs(tag, fn):
        with harvest(spark, tag) as h:
            fn()
        return len(h.jobs)

    return jobs
