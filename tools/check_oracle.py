"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf directory; compares row count, sorted column
names, and order-insensitive values (exact equality after stringify,
like a value hash would). Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
        (each query a full registry name or its number, e.g. q30; an
        unknown one exits non-zero before Spark starts)
    python tools/check_oracle.py --json [sf_dir]   # also write
        CORRECTNESS_local.json (full-registry per-query status) —
        the committed, in-repo replacement for the driver's pinned
        50-query artifact (round-2 verdict #1).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df) -> list[tuple]:
    """pandas frame → order-insensitive canonical row list."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and v != v):
                row.append("NULL")
            elif isinstance(v, float):
                row.append(f"{v:.10g}")
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return sorted(rows)


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from bench import resolve_queries
    from ingestao_dados_poli_spark.session import get_spark

    args = sys.argv[1:]
    write_json = "--json" in args
    if write_json:
        args.remove("--json")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    if write_json and args[1:]:
        # never clobber the committed full-registry artifact with a
        # filtered partial report
        print("refusing --json with a query filter: artifact must cover the full registry")
        return 2
    only = set(resolve_queries(args[1:])) if args[1:] else set()

    # no console progress bars: they interleave with the per-query ok/FAIL
    # lines and garble the log (the --json artifact was never affected)
    spark = get_spark(
        "oracle-check", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    empty = []  # Spark gave 0 rows, so a comparison checks nothing
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            report[name] = {"status": "fail", "error": f"spark: {e}"[:300]}
            print(f"FAIL {name}: spark error {e}")
            continue
        took = round(time.time() - t0, 2)
        if len(sdf) == 0:
            empty.append(name)
            print(f"WARN {name}: 0 rows")
        if name not in oracles:
            report[name] = {"status": "rows_only", "rows": len(sdf), "seconds": took}
            print(f"rows-only {name}: {len(sdf)} rows, {took:.1f}s")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            report[name] = {"status": "fail", "error": f"duckdb: {e}"[:300]}
            print(f"FAIL {name}: duckdb error {e}")
            continue
        sc, oc = sorted(sdf.columns), sorted(odf.columns)
        if sc != oc:
            failures.append(name)
            report[name] = {"status": "fail", "error": f"columns {sc} vs {oc}"[:300]}
            print(f"FAIL {name}: columns {sc} vs {oc}")
            continue
        if len(sdf) != len(odf):
            failures.append(name)
            report[name] = {"status": "fail", "error": f"rows {len(sdf)} vs {len(odf)}"}
            print(f"FAIL {name}: rows {len(sdf)} vs {len(odf)}")
            continue
        a, b = canon(sdf), canon(odf)
        if a != b:
            failures.append(name)
            ndiff = sum(1 for x, y in zip(a, b) if x != y)
            report[name] = {
                "status": "fail",
                "error": f"values differ in {ndiff}/{len(a)} rows",
            }
            print(f"FAIL {name}: values differ in {ndiff}/{len(a)} rows")
            for x, y in list(zip(a, b))[:200]:
                if x != y:
                    print(f"  spark={x}\n  duck ={y}")
                    break
        else:
            report[name] = {
                "status": "ok",
                "rows": len(sdf),
                "cols": len(sdf.columns),
                "seconds": took,
            }
            print(f"ok   {name}: {len(sdf)} rows, {took:.1f}s")
    print(
        f"\n{len(failures)} failures" + (f": {failures}" if failures else "")
        + (f"; {len(empty)} with 0 rows: {empty}" if empty else "")
    )
    if write_json:
        import json

        out = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "CORRECTNESS_local.json",
        )
        with open(out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(report),
                    "n_ok": sum(1 for v in report.values() if v["status"] == "ok"),
                    "n_rows_only": sum(
                        1 for v in report.values() if v["status"] == "rows_only"
                    ),
                    "failures": failures,
                    "queries": report,
                },
                f,
                indent=1,
                sort_keys=True,
            )
            f.write("\n")
        print(f"wrote {out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
