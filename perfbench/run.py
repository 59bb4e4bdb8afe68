"""Layered benchmark of the PySpark medallion engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run: generate the inputs from the seed,
start the session and run one cold pass over the workload's items (the
set-up, timed from process start with input generation left out), then
one untimed pass whose outputs are checked. The last stdout line is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``;
the line before it records the host, the session's effective confs and
the phase times.

``--trace 0`` reports the end-to-end metric, ``setup_s``, and ends after
the checked pass. ``--trace 1`` then runs timed passes, alternately
untraced and traced, until ``--seconds`` have elapsed (at least four), and
reports the per-layer metrics: ``wall_s`` (a median untraced pass), the
per-layer numbers of the traced passes and the tracing overhead; its
spans are written to ``perfbench/out/``. All scratch files live in
``perfbench/.work/`` and are removed when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback


def _process_start() -> float:
    """perf_counter() reading at the moment this process was started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


PROCESS_START = _process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work", str(os.getpid()))
sys.path.insert(0, ROOT)
# Before the package is imported: the session defaults read these once.
os.environ.update({
    "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
    "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
    "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
    "TMPDIR": os.path.join(WORK, "tmp"),
    # the JVM that spark-submit runs to build the driver's command line
    "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    # pandas-UDF workers import the package from the checkout
    "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
})

import layers  # noqa: E402
import workloads  # noqa: E402
from spans import BatchListener, Tracer  # noqa: E402

from ingestao_dados_poli_spark.session import get_spark  # noqa: E402

MIN_TIMED_PASSES = 4
# A run must end within 180 s: after two timed passes, start no more once
# the run is this old.
LAST_PASS_START_S = 120.0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _host() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        kb = next(line for line in fh if line.startswith("VmHWM")).split()[1]
    return int(kb) / 1024


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def start_session():
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # keep JVM scratch files inside the run's work directory
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and the Python workers it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # the next session launches a new JVM
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 10
    for w in workers:
        while os.path.exists(f"/proc/{w}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{w}"):
            os.kill(w, 9)


class Runner:
    """Runs passes of one workload and keeps the per-item timings."""

    def __init__(self, spark, wl, tracer: Tracer | None):
        self.spark, self.wl, self.tracer = spark, wl, tracer
        self.attempted = self.failed = 0

    def run_pass(self, pass_no: int, traced: bool = False):
        """Returns ({item: seconds}, spans, batches) for one pass."""
        tr = self.tracer if traced else None
        times, first_span = {}, len(tr.spans) if tr else 0
        listener = BatchListener(tr) if tr else None
        if tr:
            self.spark.streams.addListener(listener)
        try:
            with tr.patched() if tr else contextlib.nullcontext():
                for item in self.wl.order(pass_no):
                    self.attempted += 1
                    t0 = time.perf_counter()
                    try:
                        if tr:
                            tr.trace = f"{tr.run_id}/{pass_no}/{item}"
                            n0 = len(tr.spans)
                            with tr.span(item):
                                self.wl.run(self.spark, item, tr)
                            tr.harvest(tr.spans[n0:])
                        else:
                            self.wl.run(self.spark, item)
                    except Exception:
                        self.failed += 1
                        traceback.print_exc(file=sys.stderr)
                        continue
                    times[item] = time.perf_counter() - t0
        finally:
            if tr:
                self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
                self.spark.streams.removeListener(listener)
        spans = tr.spans[first_span:] if tr else []
        return times, spans, (listener.batches if listener else [])


def measure(workload: str, seed: int, seconds: float, trace: bool, small: bool = False,
            perturb: bool = False, started: float = PROCESS_START) -> tuple[dict, dict]:
    """One benchmark run; returns (result, info). ``started`` is the
    perf_counter() reading that set-up time counts from."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        return _measure(workload, seed, seconds, trace, small, perturb, started)
    finally:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:
            pass


def _timed(spark, runner: Runner, wl, seconds, started, info: dict, run: dict) -> dict:
    """Timed passes of a traced run, alternately untraced and traced, for
    --seconds (at least MIN_TIMED_PASSES); returns the per-layer metrics."""
    untraced, traced = [], []
    t_timed = time.perf_counter()
    pass_no = 0
    while True:
        now = time.perf_counter()
        if ((now - t_timed >= seconds and pass_no >= MIN_TIMED_PASSES)
                or (now - started > LAST_PASS_START_S and pass_no >= 2)):
            break
        is_traced = pass_no % 2 == 1
        (traced if is_traced else untraced).append(runner.run_pass(pass_no, is_traced))
        pass_no += 1
    info["phase_s"]["timed"] = time.perf_counter() - t_timed
    info["timed_passes"] = pass_no
    info["pass_s"] = [sum(t.values()) for t, _, _ in untraced]
    info["item_s"] = {i: statistics.median(t[i] for t, _, _ in untraced if i in t)
                      for i in wl.items if any(i in t for t, _, _ in untraced)}
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    run["peak_rss_mb"] = (_vm_hwm_mb(jvm_pid)
                          + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
    run["wall_s"] = layers.pass_wall([t for t, _, _ in untraced])
    return layers.per_layer(traced, wl, cores=_host()["nproc"], run=run,
                            attempted=runner.attempted, failed=runner.failed,
                            mismatches=len(info["mismatched"]))


def _measure(workload, seed, seconds, trace, small, perturb, started):
    wl = workloads.make(workload, seed, small)
    ticks0 = _cpu_ticks()
    t0 = time.perf_counter()
    wl.generate(os.path.join(WORK, "inputs"))
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = start_session()
    start_s = time.perf_counter() - t0
    run_id = f"pb{os.getpid()}"
    runner = Runner(spark, wl, Tracer(spark, run_id) if trace else None)
    t0 = time.perf_counter()
    runner.run_pass(-1)
    warmup_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - started - gen_s
    # Share of CPU time the hypervisor gave to other guests during set-up,
    # recorded because on a shared host it stretches setup_s with no change
    # to the program.
    steal, total = (b - a for a, b in zip(ticks0, _cpu_ticks()))

    # The checked pass is each item's second execution, so in a traced run
    # it also settles the JIT and caches before the timed passes.
    t0 = time.perf_counter()
    runner.attempted += len(wl.items)
    try:
        mismatched = wl.check(spark, perturb)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        runner.failed += len(wl.items)
        mismatched = []
    check_s = time.perf_counter() - t0

    conf = dict(spark.sparkContext.getConf().getAll())
    conf.pop("spark.driver.extraJavaOptions", None)
    conf.pop("spark.executor.extraJavaOptions", None)
    info = {"workload": workload, "seed": seed, "trace": int(trace), **_host(),
            "mismatched": mismatched, "setup_steal_pct": 100.0 * steal / max(total, 1),
            "phase_s": {"gen": gen_s, "start": start_s, "warmup": warmup_s, "check": check_s},
            "conf": {k: v for k, v in sorted(conf.items()) if not k.endswith(("id", "port"))}}
    if not trace:
        # setup_s is all an untraced run reports; the set-up it measures
        # (JVM start and cold pass) already lasts longer than --seconds.
        metrics = {"setup_s": (setup_s, "s")}
    else:
        metrics = _timed(spark, runner, wl, seconds, started, info, {
            "session.start_s": start_s, "session.warmup_s": warmup_s, "bench.gen_s": gen_s})
        info["spans"] = os.path.join("perfbench", "out", f"spans-{workload}-{seed}.jsonl")
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        runner.tracer.dump(os.path.join(ROOT, info["spans"]))
    result = {
        "correct": runner.failed == 0 and not mismatched,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, info


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result, info = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
