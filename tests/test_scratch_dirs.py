"""Registry scratch directories (`registry/_base._scratch_dir`): keyed
by query name AND dataset, so a copy a query writes once per process is
never served for another ``sf_dir``, and removed when the process
exits."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import duckdb
import pytest

from ingestao_dados_poli_spark import queries as Q

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))
from check_oracle import TABLES, canon  # noqa: E402


def _oracle(sf_dir: str, name: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return canon(con.execute(Q.ORACLES[name]).fetchdf())


@pytest.mark.parametrize(
    "name, scratch",
    [("q144_stats_pruned_scan", "q144_cluster"), ("q146_zorder_skipping", "q146_z")],
)
def test_memoised_copy_follows_sf_dir(spark, sf_dir, name, scratch):
    # Both queries write a clustered lineitem copy once per process and
    # reuse it; run on one dataset and then another in the same session,
    # each result must match that dataset's oracle.
    sf_dirs = (sf_dir, os.path.join(os.path.dirname(sf_dir), "sf0.01"))
    for d in sf_dirs:
        got = canon(Q.QUERIES[name](spark, d).toPandas())
        assert got == _oracle(d, name), d
    copies = {Q._scratch_dir(scratch, d) for d in sf_dirs}
    assert len(copies) == 2 and all(os.path.isdir(c) for c in copies)


def test_scratch_root_removed_at_exit(sf_dir, tmp_path):
    child = (
        "import os\n"
        "from ingestao_dados_poli_spark import queries as Q\n"
        "from ingestao_dados_poli_spark.session import get_spark\n"
        "spark = get_spark('scratch-exit', shuffle_partitions=2)\n"
        f"Q.QUERIES['q132_versioned_publish'](spark, {sf_dir!r}).collect()\n"
        f"d = Q._scratch_dir('q132_tbl', {sf_dir!r})\n"
        "assert os.listdir(d), d\n"
        "print(d)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", child],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    used = Path(out.stdout.strip().splitlines()[-1])
    assert used.is_relative_to(tmp_path)
    assert not used.exists()
    assert not [p for p in tmp_path.iterdir() if p.name.startswith("poli_scratch_")]
