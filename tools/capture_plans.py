"""Batch .explain("formatted") capture (optimization round 7, guide §7.2).

Builds each named query's DataFrame (no noop execution beyond whatever
driver actions the query's own construction performs) and writes the
formatted physical plan to <out_dir>/<query>_<suffix>.txt.

Usage:
    python tools/capture_plans.py <out_dir> <suffix> <query> [query ...]

Each query is a full registry name or its number (``q30``); an
unknown one stops the run before Spark starts.

Run from the repo whose code state you want to capture (e.g. the HEAD
worktree for "before", the working tree for "after"); out_dir may be an
absolute path into the main repo's plans/r07/.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from bench import resolve_queries
    from ingestao_dados_poli_spark import queries as q
    from ingestao_dados_poli_spark.session import get_spark

    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = resolve_queries(sys.argv[3:])
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "capture-plans", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    for full in names:
        try:
            df = q.QUERIES[full](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(out_dir, f"{full}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}")
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {full}: {e}")
    spark.stop()


if __name__ == "__main__":
    main()
