"""The benchmark's workloads: fixed item lists, how to run one item, and
how to check the program's outputs.

A registry item is one query of the registry: the timed unit is the
registry call followed by a noop-sink action. A medallion item is one
zone of the medallion flow. ``check`` runs every item once more, untimed,
and returns the names of the items whose output is wrong.
"""

from __future__ import annotations

import math
import os
import random
import sys

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from check_oracle import TABLES, canon  # noqa: E402

from ingestao_dados_poli_spark import medallion as M  # noqa: E402
from ingestao_dados_poli_spark import quality as Q  # noqa: E402
from ingestao_dados_poli_spark.plans.pipeline import Pipeline, Sink, Source  # noqa: E402
from ingestao_dados_poli_spark.queries import ORACLES, QUERIES  # noqa: E402
from ingestao_dados_poli_spark.sources import readers, writers  # noqa: E402

# The registry item list mixes the three query families whose work sits in
# different layers: single-plan queries (Catalyst and execution), iterative
# or driver-collect queries (eager jobs inside the Python build) and
# availableNow streaming queries (micro-batches inside the registry call).
# It is small because a run, with its JVM start and cold pass, must fit the
# per-run time budget on a 4-core host. Queries that write to fixed /tmp
# paths (q129, q148, q290, q297) are left out: a run writes only inside
# its own checkout.
REGISTRY_ITEMS = ["q03", "q64", "q42", "q264", "q78"]


class RegistryWorkload:
    """Registry queries at a fixed scale; the seed shuffles each pass."""

    def __init__(self, seed: int, sf: float):
        by_id = {n.split("_")[0]: n for n in QUERIES}
        self.items = [by_id[i] for i in REGISTRY_ITEMS]
        self.seed, self.sf = seed, sf
        self.sf_dir = ""
        self.landing_rows = 0

    def generate(self, work: str) -> None:
        self.sf_dir = os.path.join(work, "tables")
        gen.registry_tables(self.sf_dir, self.sf)

    def order(self, pass_no: int) -> list[str]:
        items = list(self.items)
        random.Random(f"{self.seed}:{pass_no}").shuffle(items)
        return items

    def run(self, spark, item: str, tracer=None) -> None:
        fn = QUERIES[item]
        if tracer is None:
            fn(spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            return
        with tracer.span("registry.build"):
            df = fn(spark, self.sf_dir)
        with tracer.span("catalyst.plan") as s:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for p in ("analysis", "optimization", "planning"):
                s.counters[f"{p}_ms"] = phases.apply(p).durationMs() if phases.contains(p) else 0
        with tracer.span("exec.action"):
            df.write.format("noop").mode("overwrite").save()

    def check(self, spark, perturb: bool = False) -> list[str]:
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        bad = []
        for item in self.items:
            got = QUERIES[item](spark, self.sf_dir).toPandas()
            want = con.execute(ORACLES[item]).fetchdf()
            if perturb and item == self.items[0]:
                got = got.iloc[:-1]
            if (sorted(got.columns) != sorted(want.columns) or len(got) != len(want)
                    or canon(got) != canon(want)):
                bad.append(item)
        con.close()
        return bad


SEPS = {"banks": "\t", "claims": ",", "employees": "|"}
SILVER = {"banks": "build_banks_silver", "claims": "build_claims_silver",
          "employees": "build_employees_silver"}
SUITES = {
    "banks": lambda: Q.Suite("validacao_banks", [
        Q.not_null("nome"), Q.not_null("cnpj"), Q.exists("cnpj")]),
    "claims": lambda: Q.Suite("validacao_claims", [
        Q.not_null("categoria"), Q.not_null("nome"), Q.not_null("cnpj"),
        Q.exists("cnpj")]),
    "employees": lambda: Q.Suite("validacao_employees", [
        Q.not_null("segmento"), Q.not_null("nome"), Q.exists("cnpj")]),
}


class MedallionWorkload:
    """landing CSVs -> silver zones through Pipeline.run -> gold parquet."""

    items = ["banks", "claims", "employees", "gold"]

    def __init__(self, seed: int, n_banks: int, n_claims: int):
        self.seed, self.n_banks, self.n_claims = seed, n_banks, n_claims
        self.reports: dict[str, dict] = {}

    def generate(self, work: str) -> None:
        self.landing = gen.medallion_landing(
            os.path.join(work, "landing"), self.seed, self.n_banks, self.n_claims)
        self.landing_rows = sum(self.landing.rows.values())
        self.silver = {z: os.path.join(work, "silver", z) for z in SILVER}
        self.gold_path = os.path.join(work, "gold")

    def order(self, pass_no: int) -> list[str]:
        return self.items

    def run(self, spark, item: str, tracer=None) -> None:
        # Module attributes are looked up per call, so a traced pass sees
        # the tracer's rebound functions.
        if item == "gold":
            gold = M.build_gold(*(readers.read_parquet(spark, self.silver[z]) for z in SILVER),
                                compat_int_index=True)
            writers.write_parquet(gold, self.gold_path, target_file_partitions=1)
            return
        self.reports[item] = Pipeline(
            name=f"{item}_silver",
            source=Source(path=self.landing.dirs[item], fmt="csv", options={"sep": SEPS[item]}),
            transforms=[getattr(M, SILVER[item])],
            suite=SUITES[item](),
            sink=Sink(path=self.silver[item], target_file_partitions=1),
        ).run(spark)

    def check(self, spark, perturb: bool = False) -> list[str]:
        for item in self.items:
            self.run(spark, item)
        bad = [z for z in SILVER if not self.reports.get(z, {}).get("validation", {}).get("success")]
        rows = spark.read.parquet(self.gold_path).select(*gen.GOLD_COLUMNS).collect()
        got = {tuple(r[:3]): tuple(r[3:]) for r in rows}
        if perturb:
            key = next(iter(got))
            got[key] = (got[key][0] + 1,) + got[key][1:]
        want = self.landing.gold
        if len(rows) != len(got) or got.keys() != want.keys() or any(
                not _close(got[k], want[k]) for k in want):
            bad.append("gold")
        return bad


def _close(a: tuple, b: tuple) -> bool:
    return all((x is None and y is None) or (
        x is not None and y is not None and math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9))
        for x, y in zip(a, b))


def make(name: str, seed: int, small: bool = False):
    """Build a workload; ``small`` shrinks the inputs for the self-test."""
    if name == "medallion_etl":
        return MedallionWorkload(seed, 40 if small else 1000, 400 if small else 50_000)
    return RegistryWorkload(seed, 0.001 if small else 0.01)


WORKLOAD_NAMES = ["registry", "medallion_etl"]
