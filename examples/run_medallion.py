"""Runnable medallion demo: the reference's whole flow, end to end.

Reproduces what a user of ``LeoGaller/ingestao-dados-poli`` runs today —
landing CSVs (three delimiters) → bronze parquet → cleaned silver with
validation reports → joined/aggregated gold — through this engine's
declarative Pipeline API instead of four notebooks. Writes everything
under a scratch directory and prints the gold table plus the quality
reports.

    python examples/run_medallion.py [workdir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from ingestao_dados_poli_spark import medallion as M
from ingestao_dados_poli_spark import quality as Q
from ingestao_dados_poli_spark.plans.pipeline import Pipeline, Sink, Source
from ingestao_dados_poli_spark.session import get_spark

BANKS_TSV = (
    "Segmento\tCNPJ\tNome\n"
    "S1\t111\tBANCO ALFA S.A.  ALFA\n"
    "S2\t222\tBANCO BETA S.A.\n"
    "S1\t333\tSOCIAL BANK BANCO MÚLTIPLO\n"
)
CLAIMS_CSV = (
    "Categoria,Instituição financeira,CNPJ IF,Índice,"
    "Quantidade de reclamações reguladas procedentes,"
    "Quantidade de clientes – SCR,Quantidade total de clientes – CCS e SCR,"
    "Quantidade total de reclamações\n"
    'Bancos,BANCO ALFA (conglomerado),111,"0,25",10,100,1000,5\n'
    'Bancos,BANCO ALFA (conglomerado),111,"1,75",20,120,1100,7\n'
    'Financeiras,BANCO BETA S.A.,222,"12,50",30,200,2000,9\n'
)
EMPLOYEES_PSV = (
    "employer_name|Geral|Remuneração e benefícios|Segmento|CNPJ|Nome\n"
    "banco alfa|4.1|3.8|S1|111|BANCO ALFA\n"
    "banco beta|3.5|3.0|S2|222|BANCO BETA\n"
    "social|2.0|2.5|S1|333|SOCIAL BANK BANCO MÚLTIPLO\n"
)


def main() -> None:
    work = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="medallion_")
    spark = get_spark("medallion-demo")
    spark.sparkContext.setLogLevel("ERROR")

    # -- landing: the reference's three delimiter formats (0a:26,38,52)
    landing = {}
    for name, payload in [
        ("banks", BANKS_TSV), ("claims", CLAIMS_CSV), ("employees", EMPLOYEES_PSV)
    ]:
        d = os.path.join(work, "landing", name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{name}.csv"), "w", encoding="utf-8") as fh:
            fh.write(payload)
        landing[name] = d

    seps = {"banks": "\t", "claims": ",", "employees": "|"}
    silver_builders = {
        "banks": M.build_banks_silver,
        "claims": M.build_claims_silver,
        "employees": M.build_employees_silver,
    }
    suites = {
        "banks": Q.Suite("validacao_banks", [Q.not_null("nome"), Q.not_null("cnpj"),
                                             Q.exists("cnpj")]),
        "claims": Q.Suite("validacao_claims", [Q.not_null("categoria"), Q.not_null("nome"),
                                               Q.not_null("cnpj"), Q.exists("cnpj")]),
        "employees": Q.Suite("validacao_employees", [Q.not_null("segmento"),
                                                     Q.not_null("nome"), Q.exists("cnpj")]),
    }

    # -- landing → silver, one declarative Pipeline per dataset
    silver = {}
    for name in ("banks", "claims", "employees"):
        silver[name] = os.path.join(work, "silver", name)
        report = Pipeline(
            name=f"{name}_silver",
            source=Source(path=landing[name], fmt="csv", options={"sep": seps[name]}),
            transforms=[silver_builders[name]],
            suite=suites[name],
            sink=Sink(path=silver[name], target_file_partitions=1),
        ).run(spark)
        Q.publish_report(spark, report["validation"], os.path.join(work, "docs", name))
        print(f"{name}: rows={report['validation']['row_count']} "
              f"quality_ok={report['validation']['success']}")

    # -- silver → gold (etl/4): joins, remap, compat cast, groupBy/avg
    gold = M.build_gold(
        spark.read.parquet(silver["banks"]),
        spark.read.parquet(silver["claims"]),
        spark.read.parquet(silver["employees"]),
        compat_int_index=True,
    )
    gold_path = os.path.join(work, "gold")
    gold.write.mode("overwrite").parquet(gold_path)
    print(f"\ngold → {gold_path}")
    spark.read.parquet(gold_path).show(truncate=False)
    print(json.dumps({"workdir": work, "gold_rows": gold.count()}))


if __name__ == "__main__":
    main()
