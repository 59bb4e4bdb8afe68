"""Session factory: the scale-posture confs must actually be set —
a silently-defaulted AQE or shuffle-partition value invalidates every
plan assumption in the operator docstrings."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

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


# -- Spark 4 defaults switched off for their cold-start cost -----------------

_ICU = "spark.sql.icu.caseMappings.enabled"
_CAPTURE = "spark.python.sql.dataFrameDebugging.enabled"

_CONF_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.errors.utils import is_debugging_enabled
from ingestao_dados_poli_spark import medallion
from ingestao_dados_poli_spark.session import get_spark

spark = get_spark("conf-test", extra_conf={"spark.ui.enabled": "false", **json.loads(sys.argv[2])})
bronze = spark.createDataFrame(
    [("Banco A", "itaú unibanco"), ("Banco B", "straße"), ("Banco C", None)],
    ["Nome", "Employer Name"])
rows = medallion.build_employees_silver(bronze).collect()
print(json.dumps({
    "conf": [spark.conf.get(k) for k in sys.argv[3:]],
    "capture": is_debugging_enabled(),
    "ipython": "IPython" in sys.modules,
    "employers": [r.employer_name for r in rows],
}))
"""


def _fresh_session_env(tmp_path: Path) -> dict[str, str]:
    """A small driver for a subprocess session; it maps the archive the
    suite's own session uses."""
    return {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "2g", "SPARK_GRAFT_CPUS": "2",
            "SPARK_GRAFT_WAREHOUSE": str(tmp_path / "warehouse")}


def test_icu_case_mapping_and_call_site_capture_off(spark):
    assert spark.conf.get(_ICU) == "false"
    assert spark.conf.get(_CAPTURE) == "false"


@pytest.mark.parametrize("extra,on", [({}, False), ({_ICU: "true", _CAPTURE: "true"}, True)],
                         ids=["defaults", "spark4-defaults"])
def test_fresh_session_capture_and_ipython(tmp_path, extra, on):
    """The medallion's employees zone in a fresh process: by default no
    call-site capture and so no IPython import (which capture pays on the
    first Column op); ``extra_conf`` brings both Spark 4 defaults back."""
    root = str(Path(__file__).resolve().parent.parent)
    res = subprocess.run(
        [sys.executable, "-c", _CONF_SCRIPT, root, json.dumps(extra), _ICU, _CAPTURE],
        env=_fresh_session_env(tmp_path), capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out["conf"] == [str(on).lower()] * 2
    assert out["capture"] is on
    assert out["ipython"] is on
    assert out["employers"] == ["ITAÚ UNIBANCO", "STRASSE", None]


# The code points where ICU case mapping and the JVM's (JDK 17, Unicode
# 13) differ: the case pairs added in Unicode 14-16, which the JVM leaves
# unchanged. Lower-case letters that only ICU upper-cases (Vithkuqi
# U+10597-105BC, Garay U+10D70-10D85, Latin, Cyrillic and Glagolitic
# additions) ...
_ICU_ONLY_UPPER = frozenset({
    0x19B, 0x264, 0x1C8A, 0x2C5F, 0xA7C1, 0xA7CD, 0xA7D1, 0xA7D7, 0xA7D9, 0xA7DB,
    *range(0x10597, 0x105A2), *range(0x105A3, 0x105B2), *range(0x105B3, 0x105BA),
    0x105BB, 0x105BC, *range(0x10D70, 0x10D86),
})
# ... and their upper-case pairs, which only ICU lower-cases.
_ICU_ONLY_LOWER = frozenset({
    0x1C89, 0x2C2F, 0xA7C0, 0xA7CB, 0xA7CC, 0xA7D0, 0xA7D6, 0xA7D8, 0xA7DA, 0xA7DC,
    *range(0x10570, 0x1057B), *range(0x1057C, 0x1058B), *range(0x1058C, 0x10593),
    0x10594, 0x10595, *range(0x10D50, 0x10D66),
})


def test_jvm_case_mapping_matches_icu_but_for_new_case_pairs(spark):
    """``upper``/``lower`` over every code point but the surrogates, in one
    frame, under both settings: they differ exactly on the pinned case
    pairs, and on multi-character names not at all."""
    assert len(_ICU_ONLY_UPPER) == len(_ICU_ONLY_LOWER) == 67
    hex8 = "lpad(hex(id), 8, '0')"
    cps = (spark.range(0x110000).where(~F.col("id").between(0xD800, 0xDFFF))
           # the leading byte-order mark keeps U+FEFF from being read as one
           .select(F.col("id").alias("cp"),
                   F.expr(f"decode(unhex(concat('0000FEFF', {hex8})), 'UTF-32')").alias("c")))
    # every row holds its one code point
    assert cps.where(f"length(c) <> 1 OR hex(encode(c, 'UTF-32')) <> {hex8}").count() == 0

    def mapped(df, icu: str):
        with S.scoped_conf(spark, _ICU, icu):
            return df.select("*", F.upper("c").alias("u"), F.lower("c").alias("l")).localCheckpoint()

    both = mapped(cps, "true").alias("i").join(mapped(cps, "false").alias("j"), "cp")
    for f, want in (("u", _ICU_ONLY_UPPER), ("l", _ICU_ONLY_LOWER)):
        diff = both.where(f"i.{f} <> j.{f}").select("cp", "j.c", f"j.{f}").collect()
        assert {r.cp for r in diff} == want
        assert all(r[1] == r[2] for r in diff)  # the JVM leaves them unchanged

    names = spark.createDataFrame([(s,) for s in (
        "BANCO BRADESCO S.A.", "Itaú Unibanco", "caixa econômica federal",
        "SOCIAL BANK BANCO MÚLTIPLO", "SOCIEDADE DE CRÉDITO, FINANCIAMENTO E INVESTIMENTO",
        "straße", "ΟΔΟΣ", "İstanbul", "ǆemal",
    )], ["c"])
    icu, jvm = (sorted(map(tuple, mapped(names, v).collect())) for v in ("true", "false"))
    assert icu == jvm
    assert ("straße", "STRASSE", "straße") in jvm


def test_analysis_error_names_column_without_capture(spark):
    from pyspark.errors import AnalysisException
    from pyspark.errors.utils import is_debugging_enabled

    assert is_debugging_enabled() is False
    with pytest.raises(AnalysisException, match="nope"):
        spark.range(3).select("nope")


_WORKER_PATH_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from ingestao_dados_poli_spark.operators import similarity
from ingestao_dados_poli_spark.session import get_spark

spark = get_spark("worker-path-test", extra_conf={
    "spark.ui.enabled": "false", "spark.executorEnv.PYTHONPATH": sys.argv[2]})
df = spark.createDataFrame(
    [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.001]), (2, [0.0, 1.0, 0.0])], ["vec_id", "embedding"])
pairs = similarity.embedding_near_dup_pairs(df, threshold=0.99, num_planes=4, num_tables=8)
tag = F.udf(lambda x: __import__("caller_helper").tag(x))
print(sorted((r.id_a, r.id_b) for r in pairs.collect()), spark.range(1).select(tag("id")).first()[0])
"""


def test_workers_import_package_from_any_working_directory(tmp_path):
    """A driver that found the package through its own sys.path, run from
    another directory with PYTHONPATH unset: the UDF kernels, pickled by
    import path, still import in the Python workers, and a caller's own
    ``spark.executorEnv.PYTHONPATH`` entry stays on the workers' path."""
    root = str(Path(__file__).resolve().parent.parent)
    elsewhere, libs = tmp_path / "elsewhere", tmp_path / "libs"
    elsewhere.mkdir()
    libs.mkdir()
    (libs / "caller_helper.py").write_text("def tag(x):\n    return f'helper-{x}'\n")
    env = _fresh_session_env(tmp_path)
    env.pop("PYTHONPATH", None)
    res = subprocess.run([sys.executable, "-c", _WORKER_PATH_SCRIPT, root, str(libs)],
                         cwd=elsewhere, env=env, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.strip().splitlines()[-1] == "[(0, 1)] helper-0"
