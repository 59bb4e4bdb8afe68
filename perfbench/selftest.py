"""Self-test of the benchmark on tiny inputs (registry at sf0.001, a
400-row claims landing file).

    python3 perfbench/selftest.py

For every workload it checks that an untraced run emits every end-to-end
metric of BENCHMARK.json and a traced run every per-layer metric, each
with its unit; that both find no mismatch; and that a deliberately
perturbed result is reported as a mismatch. Exits non-zero on failure.
"""

from __future__ import annotations

import json
import os
import sys
import time

import run
import workloads


def _expect(spec: list[dict], result: dict, label: str) -> list[str]:
    errors = []
    got = result["metrics"]
    for m in spec:
        if m["name"] not in got:
            errors.append(f"{label}: missing {m['name']}")
        elif got[m["name"]]["unit"] != m["unit"]:
            errors.append(f"{label}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
    extra = set(got) - {m["name"] for m in spec}
    if extra:
        errors.append(f"{label}: metrics not in BENCHMARK.json: {sorted(extra)}")
    if not result["correct"] or result["failed"]:
        errors.append(f"{label}: run not correct: {result}")
    return errors


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    errors = []
    if [w["name"] for w in bench["workloads"]] != workloads.WORKLOAD_NAMES:
        errors.append("BENCHMARK.json workloads differ from workloads.WORKLOAD_NAMES")
    for wl in workloads.WORKLOAD_NAMES:
        result, _ = run.measure(wl, seed=7, seconds=1, trace=False, small=True,
                                started=time.perf_counter())
        errors += _expect(bench["end_to_end"], result, f"{wl} untraced")
        result, _ = run.measure(wl, seed=7, seconds=1, trace=True, small=True,
                                started=time.perf_counter())
        errors += _expect(bench["per_layer"], result, f"{wl} traced")
        if result["metrics"].get("mismatches", {}).get("value") != 0:
            errors.append(f"{wl}: mismatches on the unperturbed run")
        result, info = run.measure(wl, seed=7, seconds=1, trace=False, small=True, perturb=True,
                                   started=time.perf_counter())
        if result["correct"] or not info["mismatched"]:
            errors.append(f"{wl}: perturbed result not reported as a mismatch")
        print(f"{wl}: checked", flush=True)
    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
