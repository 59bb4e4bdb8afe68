"""Session factory: the scale-posture confs must actually be set —
a silently-defaulted AQE or shuffle-partition value invalidates every
plan assumption in the operator docstrings."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from ingestao_dados_poli_spark import session as S


def test_scale_confs_applied(spark):
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert int(conf.get("spark.sql.shuffle.partitions")) > 0
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    # 128 MB scan splits (the 100 TB setting; local row-group-bound
    # sources are handled by partitioning.fan_out instead)
    assert conf.get("spark.sql.files.maxPartitionBytes") == "134217728"


def test_driver_memory_raised(spark):
    # local mode = driver-only JVM; the 1g default OOMs the suite
    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    assert mem.endswith("g") and int(mem[:-1]) >= 8


def test_scoped_conf_restores_and_early_outs(spark):
    from ingestao_dados_poli_spark.session import scoped_conf

    key = "spark.sql.session.timeZone"
    assert spark.conf.get(key) == "UTC"
    # equal value: no flip happens (the early-out exists because any
    # conf flip invalidates session caches — round-6 measured
    # ~0.3-0.5 s added per query when the UTC pin toggled every call)
    with scoped_conf(spark, key, "UTC"):
        assert spark.conf.get(key) == "UTC"
    assert spark.conf.get(key) == "UTC"
    # different value: applied inside, restored after
    with scoped_conf(spark, key, "America/Sao_Paulo"):
        assert spark.conf.get(key) == "America/Sao_Paulo"
    assert spark.conf.get(key) == "UTC"
    # previously-unset key: unset again afterwards (default-read ok)
    k2 = "spark.sql.legacy.parquet.nanosAsLong"
    with scoped_conf(spark, k2, "true"):
        assert spark.conf.get(k2) == "true"
    assert spark.conf.get(k2, "false") == "false"


# -- class-data-sharing archive for the driver JVM ---------------------------


@pytest.fixture
def fresh_launch(tmp_path, monkeypatch):
    """A process state where get_spark would launch a new driver JVM: no
    gateway, no classpath extras, a template-only conf dir, and the archive
    cache under tmp_path. Nothing here starts a JVM."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    for var in (*S._CLASSPATH_ENV, *S._JAVA_OPTION_ENV, "PYSPARK_GATEWAY_PORT",
                "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.delenv(var, raising=False)
    conf_dir = tmp_path / "spark-conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return conf_dir


def _conf(opts: str | None = None) -> dict[str, str]:
    conf = dict(S.DEFAULT_CONF)
    if opts is not None:
        conf["spark.driver.extraJavaOptions"] = opts
    return conf


def test_cds_skipped_when_conf_dir_has_real_files(fresh_launch):
    (fresh_launch / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    conf = _conf("-Dfoo=1")
    assert S._with_class_data_sharing(conf) is None
    assert conf == _conf("-Dfoo=1")
    assert os.environ["SPARK_CONF_DIR"] == str(fresh_launch)


@pytest.mark.parametrize("opts", [
    "-Xshare:off",
    "-Dfoo=1 -XX:SharedArchiveFile=/elsewhere/app.jsa",
    "-XX:ArchiveClassesAtExit=/elsewhere/app.jsa",
])
def test_cds_leaves_callers_own_sharing_options(fresh_launch, opts):
    conf = _conf(opts)
    assert S._with_class_data_sharing(conf) is None
    assert conf["spark.driver.extraJavaOptions"] == opts


@pytest.mark.parametrize("var", S._CLASSPATH_ENV)
def test_cds_skipped_when_env_extends_classpath(fresh_launch, monkeypatch, var):
    monkeypatch.setenv(var, "/somewhere")
    assert S._with_class_data_sharing(_conf()) is None


def test_cds_skipped_with_driver_extra_classpath(fresh_launch):
    conf = {**_conf(), "spark.driver.extraClassPath": "/somewhere/x.jar"}
    assert S._with_class_data_sharing(conf) is None


def test_cds_appends_to_callers_java_options(fresh_launch, tmp_path):
    conf = _conf("-XX:-UsePerfData -Djava.io.tmpdir=/tmp/run")
    conf_dir = S._with_class_data_sharing(conf)
    assert conf_dir is not None and not os.listdir(conf_dir)
    assert conf_dir.startswith(str(tmp_path / "cache"))
    opts = conf["spark.driver.extraJavaOptions"]
    assert opts.startswith("-XX:-UsePerfData -Djava.io.tmpdir=/tmp/run -XX:ArchiveClassesAtExit=")
    assert "-Xlog:cds*=off" in opts  # CDS log lines never reach stdout
    # the env var is swapped only around getOrCreate, inside get_spark
    assert os.environ["SPARK_CONF_DIR"] == str(fresh_launch)


def _recording_log(needed: int, pid: int = 999_999_999, success: bool = True) -> str:
    """A recording log in the JVM's format: its pid, the region table
    (rw region + bitmap, the last ending at ``needed``), the success line."""
    lines = [
        f"[0.006s][{pid}][cds] trying to map /jdk/lib/server/classes.jsa",
        f"[9.100s][{pid}][cds,map] - file_offset:                    0x1000",
        f"[9.100s][{pid}][cds,map] - mapping_offset:                 0x0",
        f"[9.100s][{pid}][cds,map] - used:                           100",
        f"[9.100s][{pid}][cds,map] - file_offset:                    0x2000",
        f"[9.100s][{pid}][cds,map] - used:                           {needed - 0x2000}",
    ]
    if success:
        lines.append(f"[9.200s][{pid}][cds,dynamic] Written dynamic archive 0x0000000800bca000"
                     f" - 0x0000000800bcb064 [984 bytes header, 4196 bytes total]")
    return "\n".join(lines) + "\n"


def _tmp_archive(cache: Path, key: str, size: int, log: str) -> Path:
    tmp = cache / f"{key}.abc123.jsa.tmp"
    tmp.write_bytes(b"\0" * size)
    (cache / f"{key}.abc123.log").write_text(log)
    return tmp


@pytest.mark.parametrize("size,success", [(9000, False), (8999, True)])
def test_incomplete_archive_never_promoted(tmp_path, size, success):
    """Truncated (smaller than its regions' end), or no success line in
    its log: the temp archive is dropped and a new one recorded, because
    mapping a truncated archive crashes the JVM."""
    key = "k"
    tmp = _tmp_archive(tmp_path, key, size, _recording_log(9000, success=success))
    opts = S._archive_options(str(tmp_path), key)
    assert "ArchiveClassesAtExit" in opts and "SharedArchiveFile" not in opts
    assert not (tmp_path / f"{key}.jsa").exists()
    assert not tmp.exists()


def test_complete_archive_promoted_then_mapped(tmp_path):
    key = "k"
    tmp = _tmp_archive(tmp_path, key, 9000, _recording_log(9000))
    archive = tmp_path / f"{key}.jsa"
    for _ in range(2):  # promoted by the first call, mapped as is by the second
        assert S._archive_options(str(tmp_path), key) == (
            f"-XX:SharedArchiveFile={archive} -Xlog:cds*=off")
    assert archive.stat().st_size == 9000 and not tmp.exists()
    # a promoted archive truncated later is dropped, not mapped
    with open(archive, "r+b") as fh:
        fh.truncate(5000)
    assert "ArchiveClassesAtExit" in S._archive_options(str(tmp_path), key)
    assert not archive.exists()


def test_live_recording_is_left_alone(tmp_path):
    """While the recording JVM still runs, a new session neither records a
    second archive nor touches the first."""
    key = "k"
    tmp = _tmp_archive(tmp_path, key, 10, "")  # JVM launched, log not yet opened
    assert S._archive_options(str(tmp_path), key) is None
    assert tmp.exists()


_SESSION_SCRIPT = """
import os, sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from ingestao_dados_poli_spark.session import get_spark

conf_dir = os.environ.get("SPARK_CONF_DIR")
spark = get_spark("cds-test", extra_conf={
    "spark.ui.enabled": "false",
    "spark.driver.extraJavaOptions": "-Xlog:class+load=info:file=" + sys.argv[2],
})
assert os.environ.get("SPARK_CONF_DIR") == conf_dir  # swapped for the launch only
rows = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().orderBy("k").collect()
gateway = SparkContext._gateway
proc = gateway.proc
spark.stop()
gateway.shutdown()
proc.stdin.close()  # the JVM exits, writing its archive when recording one
proc.wait(timeout=120)
print([tuple(r) for r in rows])
"""


def _class_source(log: Path, cls: str) -> str:
    line = next(x for x in log.read_text().splitlines() if f" {cls} source: " in x)
    return line.split(" source: ", 1)[1]


def test_second_session_maps_archive_recorded_by_first(tmp_path):
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path / "cache"),
           "SPARK_GRAFT_DRIVER_MEM": "2g", "SPARK_GRAFT_CPUS": "2",
           "SPARK_GRAFT_WAREHOUSE": str(tmp_path / "warehouse")}
    root = str(Path(__file__).resolve().parent.parent)
    expected = str([(k, 143 if k < 6 else 142) for k in range(7)])

    def session(run: str) -> str:
        """Runs one session in a fresh process; returns where its JVM
        loaded SparkContext from."""
        log = tmp_path / f"{run}-classes.log"
        res = subprocess.run([sys.executable, "-c", _SESSION_SCRIPT, root, str(log)],
                             env=env, capture_output=True, text=True, timeout=600)
        assert res.returncode == 0, res.stderr[-2000:]
        assert "[cds" not in res.stdout  # no CDS log line on stdout
        assert res.stdout.strip().splitlines()[-1] == expected
        return _class_source(log, "org.apache.spark.SparkContext")

    assert "shared objects file (top)" not in session("record")
    assert session("map") == "shared objects file (top)"
    cache = tmp_path / "cache" / "ingestao_dados_poli_spark"
    archives = list(cache.glob("*.jsa"))
    assert len(archives) == 1 and not list(cache.glob("*.tmp"))
    # A stale archive (here: a header the JVM rejects) costs the sharing,
    # never the session.
    archives[0].chmod(0o644)
    with open(archives[0], "r+b") as fh:
        fh.write(b"\0" * 4096)
    assert "shared objects file (top)" not in session("stale")
