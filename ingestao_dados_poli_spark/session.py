"""SparkSession factory with scale-sane defaults.

The reference creates no session of its own (Databricks injects one); the
engine owns session construction so every job runs with AQE, Arrow, and
partition sizing tuned for large inputs (reference:
etl/1-processing-banks.py:44 simply assumes `spark`).

Design notes for 100 TB:
- AQE on: runtime partition coalescing, skew-join splitting, and
  broadcast-join demotion/promotion based on observed sizes.
- `spark.sql.shuffle.partitions` is only the *initial* number; AQE
  coalesces. On a real cluster set it ~2-3x total cores; locally we
  default to the local core count.
- Arrow enabled so any Pandas-UDF path (multimodal/vector ops) is
  batch-vectorized instead of row-pickled.
- Parquet filter pushdown + vectorized reader left at defaults (on).
"""

from __future__ import annotations

import fcntl
import glob
import hashlib
import os
import re
import shutil
import tempfile
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """16g, or ~60% of the host's RAM in whole GiB when that is smaller:
    the heap must leave room for the Python side and the OS page cache."""
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(16, int(ram_gib * 0.6)))}g"


DEFAULT_CONF: dict[str, str] = {
    # Local mode = driver-only JVM; the 1g default OOMs under a full test
    # suite (32 task threads sharing one heap). Honored because the JVM is
    # launched lazily at getOrCreate. Overridable via env for small boxes.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ~128 MB scan splits: good parallelism without tiny-task overhead.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    "spark.sql.session.timeZone": "UTC",
    # managed-table warehouse off the repo tree (bucketed tables land here)
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"
    ),
    # Proleptic-Gregorian date/time PARSING (no silent legacy-calendar
    # fallback) — keeps timestamp parsing deterministic across JVMs.
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
    # NOTE: spark.sql.legacy.parquet.nanosAsLong is deliberately NOT a
    # session default: A/B-measured 1.7x slower events scans even on
    # micro-precision files (the legacy flag drops the vectorized
    # timestamp reader path). `_t` reads natively and retries under a
    # scoped flag only when the footer actually carries
    # TIMESTAMP(NANOS).
}


# -- Class-data sharing for the driver JVM --------------------------------
#
# A cold session spends most of its start-up and first queries loading,
# verifying and linking Spark's classes. An AppCDS dynamic archive
# (JEP 350) holds those classes pre-parsed, so later JVMs map them instead.
# One session records the archive when its JVM exits; the next get_spark
# promotes it once the recording log shows it complete, and every session
# after that maps it. The archive is checked by the JVM against its own
# build, the classpath (with each jar's size and mtime) and the
# compressed-oops mode, so the file name is a hash of the same; a stale or
# rejected archive just means a normal cold start. Archives live under
# ${XDG_CACHE_HOME:-~/.cache}/ingestao_dados_poli_spark/ (never a per-run
# path, or no later run would find them); deleting that directory resets
# them, and the next session records a new one.

# A caller who chose its own CDS setup (``-Xshare:off`` is the opt-out) keeps it.
_CDS_OPTIONS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
_JAVA_OPTION_ENV = ("SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS")
# Each of these puts entries of its own on the driver's classpath.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_CLASSPATH")
# CDS log lines go to the recording log, never to the driver's stdout.
_QUIET = "-Xlog:cds*=off"
_WRITTEN = re.compile(r"Written dynamic archive .*\[\d+ bytes header, (\d+) bytes total\]")
_REGION_END = re.compile(r"- file_offset:\s+0x([0-9a-f]+)\n(?:.*\n)*?.*- used:\s+(\d+)")
_LOG_PID = re.compile(r"\A\[[^\]]*\]\[(\d+)\]")
# A recording whose JVM has not opened its log by then never started.
_LAUNCH_GRACE_S = 60.0


def _archive_bytes(log: str) -> int | None:
    """Size a complete archive has, read from its recording log; None when
    the log does not show the JVM finished writing it (the success line is
    logged after the file is closed)."""
    try:
        with open(log, errors="replace") as fh:
            text = fh.read()
    except OSError:
        return None
    written = _WRITTEN.search(text)
    if written is None:
        return None
    # Every region, the trailing bitmap included, must be in the file:
    # mapping a truncated archive crashes the JVM (SIGBUS).
    ends = [int(off, 16) + int(used) for off, used in _REGION_END.findall(text)]
    return max([int(written.group(1)), *ends])


def _complete(archive: str, log: str) -> bool:
    need = _archive_bytes(log)
    return need is not None and os.path.isfile(archive) and os.path.getsize(archive) >= need


def _recording(archive: str, log: str) -> bool:
    """True while the JVM that is to write ``archive`` may still run."""
    try:
        with open(log, errors="replace") as fh:
            pid = _LOG_PID.match(fh.readline())
    except OSError:
        pid = None
    if pid is None:
        try:
            return time.time() - os.path.getmtime(archive) < _LAUNCH_GRACE_S
        except OSError:
            return False
    try:
        with open(f"/proc/{pid.group(1)}/cmdline", "rb") as fh:
            return archive.encode() in fh.read()
    except OSError:
        return False


def _remove(*paths: str) -> None:
    for path in paths:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass


def _archive_options(cache: str, key: str) -> str | None:
    """JVM options that map the archive for ``key``, or record it when
    none is ready; None while another JVM is recording it. Callers hold
    the cache lock."""
    archive, log = os.path.join(cache, f"{key}.jsa"), os.path.join(cache, f"{key}.log")
    ready = _complete(archive, log)
    if not ready:
        _remove(archive, log)
    busy = False
    for tmp in glob.glob(os.path.join(cache, f"{key}.*.jsa.tmp")):
        tmp_log = tmp[: -len(".jsa.tmp")] + ".log"
        if not ready and _complete(tmp, tmp_log):
            os.replace(tmp_log, log)
            os.replace(tmp, archive)
            ready = True
        elif _recording(tmp, tmp_log):
            busy = True
        else:
            _remove(tmp, tmp_log)
    if ready:
        return f"-XX:SharedArchiveFile={archive} {_QUIET}"
    if busy:
        return None
    fd, tmp = tempfile.mkstemp(prefix=f"{key}.", suffix=".jsa.tmp", dir=cache)
    os.close(fd)
    tmp_log = tmp[: -len(".jsa.tmp")] + ".log"
    return f"-XX:ArchiveClassesAtExit={tmp} {_QUIET} -Xlog:cds*=info:file={tmp_log}:uptime,pid"


def _heap_bytes(mem: str) -> int:
    """``spark.driver.memory`` in bytes (a bare number is MiB, as in Spark)."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", mem.strip().lower())
    if m is None:
        return 1 << 30  # unparseable: Spark rejects it at launch anyway
    return int(m.group(1)) << (10 * "_kmgt".index(m.group(2) or "m"))


def _archive_key(java: str, jars: str, driver_memory: str) -> str:
    """Hash of what the JVM checks a dynamic archive against."""
    java = os.path.realpath(java)
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    entries = [java, libjvm, *sorted(glob.glob(os.path.join(jars, "*.jar")))]
    h = hashlib.sha256()
    for path in entries:
        if os.path.exists(path):
            st = os.stat(path)
            h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    h.update(b"coops" if _heap_bytes(driver_memory) < 32 << 30 else b"no-coops")
    return h.hexdigest()[:20]


def _with_class_data_sharing(conf: dict[str, str]) -> str | None:
    """Add the archive options to ``conf``'s driver Java options and return
    the empty conf dir to launch with, or return None and leave ``conf``
    alone when the launch must stay as it is.

    JDK 17 refuses CDS when a non-empty directory is on the classpath, and
    Spark puts ``$SPARK_CONF_DIR`` first on it. So the launch points
    ``SPARK_CONF_DIR`` at an empty directory the engine owns, which is
    done only when the real conf dir holds nothing Spark reads (only
    ``*.template`` files)."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    opts = conf.get("spark.driver.extraJavaOptions", "")
    java_opts = " ".join([opts, *(os.environ.get(v, "") for v in _JAVA_OPTION_ENV)])
    if (
        SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell").strip() != "pyspark-shell"
        or any(os.environ.get(v) for v in _CLASSPATH_ENV)
        or conf.get("spark.driver.extraClassPath")
        or any(o in java_opts for o in _CDS_OPTIONS)
    ):
        return None
    spark_home = _find_spark_home()
    real_conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        conf_files = os.listdir(real_conf_dir)
    except FileNotFoundError:
        conf_files = []
    except OSError:
        return None
    if any(not f.endswith(".template") for f in conf_files):
        return None
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "ingestao_dados_poli_spark",
    )
    # The options string is split on whitespace and -Xlog on ':' and ','.
    if java is None or re.search(r"[\s:,'\"]", cache):
        return None
    conf_dir = os.path.join(cache, "conf")
    key = _archive_key(java, os.path.join(spark_home, "jars"), conf["spark.driver.memory"])
    try:
        os.makedirs(conf_dir, mode=0o700, exist_ok=True)
        if os.listdir(conf_dir):
            return None
        with open(os.path.join(cache, ".lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            archive_opts = _archive_options(cache, key)
    except OSError:
        return None
    if archive_opts is None:
        return None
    conf["spark.driver.extraJavaOptions"] = f"{opts} {archive_opts}".strip()
    return conf_dir


def get_spark(
    app_name: str = "ingestao-dados-poli-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset so the
    same entry points run on a cluster (where ``--master`` comes from
    spark-submit) and in local tests.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER_SET"):
        builder = builder.master(f"local[{cpus}]")
    elif master is not None:
        builder = builder.master(master)

    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is None:
        # Local default: one shuffle partition per core. On a cluster,
        # pass an explicit value (~2-3x total cores) or rely on AQE.
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    conf_dir = _with_class_data_sharing(conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    if conf_dir is None:
        return builder.getOrCreate()
    # Only the launch sees the empty conf dir; the variable is restored.
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for the duration of a block, then restore the
    prior value (or unset if it had none). Session confs are process-
    global mutable state on a shared SparkSession; an unscoped ``set``
    leaks into every later query in the session. Use this for any conf
    a single query needs (legacy reader flags, per-stream sizing) so
    the session's defaults stay authoritative.
    """
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    if old == value:
        # Already in effect: setting (and later restoring) would be two
        # conf flips, and ANY conf flip invalidates session-level plan/
        # relation caches — measured ~0.3-0.5 s added per registry query
        # when the UTC pin toggled around every call. Read-only probe,
        # no mutation, no restore needed.
        yield
        return
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
