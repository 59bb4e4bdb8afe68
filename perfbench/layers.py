"""Per-layer metrics of a traced run, computed from its spans and batches.

Each traced pass gives one value per metric; a metric's reported value
is the median over the traced passes. ``LAYERS`` names, for each layer,
its metrics, the run-level metric they should move (``setup_s`` or the
median pass time ``wall_s``), the workloads that exercise the layer and
the workload on which no change is predicted.

The ``exec.*`` stage counters cover every job an item launches: eager
jobs inside a registry build and streaming micro-batches as well as the
action's. ``exec.action_s`` is item time outside the registry build and
planning; ``exec.slot_busy_ratio`` is executor run time over item time
times cores.
"""

from __future__ import annotations

import statistics

from spans import STAGE_COUNTERS
from workloads import REGISTRY_ITEMS

LAYERS = {
    # wall_s (a median pass) and peak_rss_mb (JVM VmHWM + Python driver peak
    # RSS) spread by more than a tenth between runs on a shared 4-core host,
    # so they are per-layer rather than end-to-end.
    "session": {"metrics": ["session.start_s", "session.warmup_s", "peak_rss_mb"],
                "moves": ["setup_s"], "on": "all", "bypass": None},
    "registry": {"metrics": ["registry.build_s", "registry.build_jobs",
                             *(f"registry.{q}.build_s" for q in REGISTRY_ITEMS)],
                 "moves": ["wall_s"], "on": ["registry"], "bypass": "medallion_etl"},
    "catalyst": {"metrics": ["catalyst.analysis_ms", "catalyst.optimization_ms",
                             "catalyst.planning_ms"],
                 "moves": ["wall_s"], "on": ["registry"], "bypass": "medallion_etl"},
    "exec": {"metrics": ["exec.action_s", "exec.jobs", "exec.stages", "exec.tasks",
                         "exec.executor_run_ms", "exec.executor_cpu_ms", "exec.gc_ms",
                         "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
                         "exec.input_records", "exec.slot_busy_ratio"],
             "moves": ["wall_s"], "on": ["registry", "medallion_etl"], "bypass": None},
    "streaming": {"metrics": ["streaming.batches", "streaming.empty_batch_ratio",
                              "streaming.trigger_ms", "streaming.addBatch_ms",
                              "streaming.queryPlanning_ms", "streaming.walCommit_ms",
                              "streaming.commitOffsets_ms", "streaming.latestOffset_ms",
                              "streaming.getBatch_ms", "streaming.state_rows",
                              "streaming.state_memory_bytes", "batch_p50_ms", "batch_p90_ms"],
                  "moves": ["wall_s"], "on": ["registry"], "bypass": "medallion_etl"},
    "pipeline": {"metrics": ["pipeline.banks_s", "pipeline.claims_s", "pipeline.employees_s",
                             "medallion.gold_s", "pipeline.landing_scan_ratio"],
                 "moves": ["wall_s"], "on": ["medallion_etl"], "bypass": "registry"},
    "quality": {"metrics": ["quality.validate_s", "quality.jobs"],
                "moves": ["wall_s"], "on": ["medallion_etl"], "bypass": "registry"},
    "sources": {"metrics": ["sources.read_csv_s", "sources.write_parquet_s",
                            "sources.bytes_written", "sources.files_written"],
                "moves": ["wall_s"], "on": ["medallion_etl"], "bypass": "registry"},
    "bench": {"metrics": ["wall_s", "bench.gen_s", "trace.wall_s", "trace.overhead_pct",
                          "error_rate", "mismatches"],
              "moves": [], "on": "all", "bypass": None},
}

UNITS = {"_mb": "MB", "_s": "s", "_ms": "ms", "_bytes": "bytes", "_ratio": "ratio", "_pct": "%",
         "_rows": "rows", "_records": "rows", "error_rate": "ratio",
         "bytes_written": "bytes"}
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset",
                 "getBatch")
ZONE_SPANS = {"banks": "pipeline.banks_s", "claims": "pipeline.claims_s",
              "employees": "pipeline.employees_s", "gold": "medallion.gold_s"}


def unit(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def all_metrics() -> list[str]:
    return [m for layer in LAYERS.values() for m in layer["metrics"]]


def _pass_metrics(spans: list, batches: list, wl, cores: int) -> dict:
    m = dict.fromkeys(all_metrics(), 0.0)
    by_id = {s.span_id: s for s in spans}
    build = {"registry.build", "catalyst.plan"}
    item_s = 0.0
    for s in spans:
        c = s.counters
        if s.name == "registry.build":
            m["registry.build_s"] += s.seconds
            m["registry.build_jobs"] += c.get("jobs", 0)
            q = s.trace.rsplit("/", 1)[1].split("_")[0]
            m[f"registry.{q}.build_s"] += s.seconds
        elif s.name == "catalyst.plan":
            for p in ("analysis", "optimization", "planning"):
                m[f"catalyst.{p}_ms"] += c[f"{p}_ms"]
        # every job of the item: eager jobs of the build and streaming
        # micro-batches as well as the action's
        for k in STAGE_COUNTERS:
            m[f"exec.{k}"] += c.get(k, 0)
        if s.parent is None:
            item_s += s.seconds
            m["exec.action_s"] += s.seconds
            if s.name in ZONE_SPANS:
                m[ZONE_SPANS[s.name]] += s.seconds
        elif s.name in build and by_id[s.parent].parent is None:
            m["exec.action_s"] -= s.seconds
        if s.name == "quality.validate":
            m["quality.validate_s"] += s.seconds
            m["quality.jobs"] += c.get("jobs", 0)
        if s.name == "sources.read_csv":
            m["sources.read_csv_s"] += s.seconds
        if s.name == "sources.write_parquet":
            m["sources.write_parquet_s"] += s.seconds
            m["sources.bytes_written"] += c.get("bytes_written", 0)
            m["sources.files_written"] += c.get("files_written", 0)
    if item_s > 0:
        m["exec.slot_busy_ratio"] = m["exec.executor_run_ms"] / (item_s * 1000 * cores)
    if wl.landing_rows:
        zones = {s.span_id for s in spans if s.parent is None and s.name != "gold"}
        records = sum(s.counters.get("input_records", 0) for s in spans
                      if _root(s, by_id) in zones)
        m["pipeline.landing_scan_ratio"] = records / wl.landing_rows
    m["streaming.batches"] = len(batches)
    if batches:
        m["streaming.empty_batch_ratio"] = sum(b["rows"] == 0 for b in batches) / len(batches)
        m["streaming.trigger_ms"] = sum(b["duration_ms"].get("triggerExecution", 0)
                                        for b in batches)
        for p in STREAM_PHASES:
            m[f"streaming.{p}_ms"] = sum(b["duration_ms"].get(p, 0) for b in batches)
        last: dict[str, dict] = {}
        for b in batches:
            last[b["query"]] = b
        m["streaming.state_rows"] = sum(b["state_rows"] for b in last.values())
        m["streaming.state_memory_bytes"] = sum(b["state_memory_bytes"] for b in last.values())
    return m


def pass_wall(passes: list[dict]) -> float:
    """Time of a median pass: the sum over items of each item's median."""
    items = set().union(*passes)
    return sum(statistics.median(p[i] for p in passes if i in p) for i in items)


def _root(s, by_id) -> int:
    while s.parent is not None:
        s = by_id[s.parent]
    return s.span_id


def _percentile(values: list[float], p: float) -> float:
    if not values:
        return 0.0
    values = sorted(values)
    return values[min(len(values) - 1, int(p * len(values)))]


def per_layer(traced: list, wl, cores: int, run: dict, attempted: int, failed: int,
              mismatches: int) -> dict:
    """{metric: (value, unit)} over the traced passes of one run."""
    per_pass = [_pass_metrics(s, b, wl, cores) for _, s, b in traced]
    out = {k: statistics.median(p[k] for p in per_pass) for k in all_metrics()}
    triggers = [b["duration_ms"].get("triggerExecution", 0) for _, _, bs in traced for b in bs]
    out["batch_p50_ms"] = _percentile(triggers, 0.5)
    out["batch_p90_ms"] = _percentile(triggers, 0.9)
    out["trace.wall_s"] = pass_wall([t for t, _, _ in traced])
    out.update(run)
    out["trace.overhead_pct"] = 100.0 * (out["trace.wall_s"] / run["wall_s"] - 1)
    out["error_rate"] = failed / attempted
    out["mismatches"] = mismatches
    return {k: (float(out[k]), unit(k)) for k in all_metrics()}

