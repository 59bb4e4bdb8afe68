"""Golden-pipeline test: miniature banks/claims/employees CSVs through
landing → silver → gold (FIXTURES.md §A), checking the reference's
observable semantics (SURVEY §2.10 quirks included)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ingestao_dados_poli_spark import medallion as M
from ingestao_dados_poli_spark import quality as Q
from ingestao_dados_poli_spark.plans.pipeline import Pipeline, Sink, Source


@pytest.fixture(scope="module")
def fixture_frames(spark):
    banks = spark.createDataFrame(
        [
            ("S1", "111", "BANCO ALFA S.A.  ALFA"),
            ("S2", "222", "BANCO BETA S.A."),
            ("S1", "333", "SOCIAL BANK BANCO MÚLTIPLO"),
        ],
        ["Segmento", "CNPJ", "Nome"],
    )
    claims = spark.createDataFrame(
        [
            ("Bancos", "BANCO ALFA (conglomerado)", "111", "0,25", "10", "100", "1000", "5"),
            ("Bancos", "BANCO ALFA (conglomerado)", "111", "1,75", "20", "120", "1100", "7"),
            ("Financeiras", "BANCO BETA S.A.", "222", "12,50", "30", "200", "2000", "9"),
        ],
        [
            "Categoria", "Instituição financeira", "CNPJ IF", "Índice",
            "Quantidade de reclamações reguladas procedentes",
            "Quantidade de clientes – SCR",
            "Quantidade total de clientes – CCS e SCR",
            "Quantidade total de reclamações",
        ],
    )
    employees = spark.createDataFrame(
        [
            ("banco alfa", "4.1", "3.8", "S1", "111", "BANCO ALFA"),
            ("banco beta", "3.5", "3.0", "S2", "222", "BANCO BETA"),
            ("social", "2.0", "2.5", "S1", "333", "SOCIAL BANK BANCO MÚLTIPLO"),
        ],
        ["employer_name", "Geral", "Remuneração e benefícios", "Segmento", "CNPJ", "Nome"],
    )
    return banks, claims, employees


def test_banks_silver(spark, fixture_frames):
    banks, _, _ = fixture_frames
    silver = M.build_banks_silver(banks)
    rows = {r.cnpj: r for r in silver.collect()}
    assert rows["111"].nome.startswith("BANCO ALFA")
    # double-space fantasy-name derivation (etl/1:74)
    assert rows["111"].nome_fantasia == "ALFA"
    assert rows["222"].nome == "BANCO BETA"
    assert rows["222"].nome_fantasia is None


def test_claims_silver_renames(spark, fixture_frames):
    _, claims, _ = fixture_frames
    silver = M.build_claims_silver(claims)
    assert "cnpj" in silver.columns and "nome" in silver.columns
    names = {r.nome for r in silver.collect()}
    assert "BANCO ALFA" in names  # (conglomerado) stripped


def test_gold_compat_semantics(spark, fixture_frames):
    banks, claims, employees = fixture_frames
    gold = M.build_gold(
        M.build_banks_silver(banks),
        M.build_claims_silver(claims),
        M.build_employees_silver(employees),
        compat_int_index=True,
    )
    rows = {r["CNPJ"]: r for r in gold.collect()}
    alfa = rows["111"]
    # compat: "0,25"→0, "1,75"→1 → avg = 0.5 (int truncation, etl/4:79)
    assert alfa["Índice de reclamações"] == 0.5
    # remap: SOCIAL BANK BANCO MÚLTIPLO → BANCO CAPITAL joins employees
    # (etl/4:36-38) — employees side renamed, claims side has no 333 row
    assert alfa["Quantidade de Clientes do Bancos"] == 1050.0
    assert alfa["Índice de satisfação dos funcionários dos bancos"] == pytest.approx(4.1)


def test_gold_corrected_semantics(spark, fixture_frames):
    banks, claims, employees = fixture_frames
    gold = M.build_gold(
        M.build_banks_silver(banks),
        M.build_claims_silver(claims),
        M.build_employees_silver(employees),
        compat_int_index=False,
    )
    alfa = {r["CNPJ"]: r for r in gold.collect()}["111"]
    assert alfa["Índice de reclamações"] == pytest.approx((0.25 + 1.75) / 2)


def test_employee_variant_alignment(spark):
    v1 = spark.createDataFrame([("e1", "4.0")], ["employer_name", "Geral"])  # no Segmento
    v2 = spark.createDataFrame([("e2", "S1")], ["employer_name", "Segmento"])  # no Geral
    out = M.align_employee_variants(v1, v2)
    assert out.columns == M.EMPLOYEE_COLUMNS
    assert out.count() == 2
    got = {r.employer_name: r for r in out.collect()}
    assert got["e1"]["Segmento"] == ""   # lit('') padding, 0a:56-57
    assert got["e2"]["Geral"] == ""


def test_pipeline_records_failures_not_fatal(spark, tmp_path, fixture_frames):
    """Reference checkpoint policy (etl/1:169-175): rule failures are
    RECORDED in the report; the write still happens."""
    banks, _, _ = fixture_frames
    src = str(tmp_path / "landing_fail")
    banks.write.mode("overwrite").option("header", True).csv(src)
    out = str(tmp_path / "silver_fail")
    pipe = Pipeline(
        name="banks_bad_rule",
        source=Source(path=src, fmt="csv"),
        transforms=[M.build_banks_silver],
        suite=Q.Suite("s").add(Q.not_null("nome_fantasia")).add(Q.exists("no_such_col")),
        sink=Sink(path=out, target_file_partitions=1),
    )
    report = pipe.run(spark)
    assert report["validation"]["success"] is False
    failed = [r for r in report["validation"]["results"] if not r["success"]]
    assert len(failed) == 2  # null fantasy names + missing column
    assert spark.read.parquet(out).count() == 3  # write happened anyway


def test_pipeline_end_to_end(spark, tmp_path, fixture_frames):
    banks, _, _ = fixture_frames
    src = str(tmp_path / "landing_banks")
    banks.write.mode("overwrite").option("header", True).option("sep", "\t").csv(src)
    silver_path = str(tmp_path / "silver_banks")
    pipe = Pipeline(
        name="banks_silver",
        source=Source(path=src, fmt="csv", options={"sep": "\t"}),
        transforms=[M.build_banks_silver],
        suite=Q.Suite("validacao_banks")
        .add(Q.not_null("segmento"))
        .add(Q.not_null("nome"))
        .add(Q.not_null("cnpj"))
        .add(Q.exists("cnpj")),
        sink=Sink(path=silver_path, target_file_partitions=1),
    )
    report = pipe.run(spark)
    assert report["validation"]["row_count"] == 3
    assert report["validation"]["success"]
    assert spark.read.parquet(silver_path).count() == 3


def _banks_pipeline(src, out, fmt="csv", transforms=(M.build_banks_silver,)):
    return Pipeline(
        name="banks_silver",
        source=Source(path=src, fmt=fmt),
        transforms=list(transforms),
        suite=Q.Suite("validacao_banks")
        .add(Q.not_null("segmento"))
        .add(Q.not_null("nome"))
        .add(Q.exists("cnpj")),
        sink=Sink(path=out, target_file_partitions=1),
    )


def test_pipeline_run_adds_no_job_to_the_write(
    spark, count_jobs, tmp_path, fixture_frames
):
    """The suite rides the sink write: a validated hop runs the jobs the
    bare write runs, with no cache and no separate validation job."""
    banks, _, _ = fixture_frames
    src = str(tmp_path / "bronze_banks")
    banks.write.parquet(src)
    pipe = _banks_pipeline(src, str(tmp_path / "silver_banks"), fmt="parquet")
    write_only = count_jobs(
        "pipe-write", lambda: pipe.sink.save(pipe.build(spark))
    )
    reports = []
    validated = count_jobs("pipe-run", lambda: reports.append(pipe.run(spark)))
    assert validated == write_only
    assert reports[0]["validation"]["row_count"] == 3
    assert reports[0]["validation"]["success"]


def test_pipeline_header_only_landing(spark, tmp_path):
    src = tmp_path / "landing_empty"
    src.mkdir()
    (src / "banks.csv").write_text("Segmento,CNPJ,Nome\n", encoding="utf-8")
    out = str(tmp_path / "silver_empty")
    report = _banks_pipeline(str(src), out).run(spark)["validation"]
    assert report["row_count"] == 0
    assert report["success"] and report["certified"]
    assert spark.read.parquet(out).count() == 0
    assert [p.name for p in (tmp_path / "silver_empty").glob("part-*.parquet")]


def test_pipeline_failed_write_raises_then_recovers(spark, tmp_path, fixture_frames):
    """A transform that fails at execution makes ``run`` raise instead of
    waiting on metrics the write never produced; the next run reports."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.errors import SparkRuntimeException

    banks, _, _ = fixture_frames
    src = str(tmp_path / "landing_banks")
    banks.write.option("header", True).csv(src)
    out = str(tmp_path / "silver_banks")

    def boom(df):
        return df.withColumn("boom", F.raise_error(F.concat(F.lit("bad row "), F.col("cnpj"))))

    bad = _banks_pipeline(src, out, transforms=(M.build_banks_silver, boom))
    ex = ThreadPoolExecutor(1)
    fut = ex.submit(bad.run, spark)
    with pytest.raises(SparkRuntimeException, match="bad row"):
        fut.result(timeout=180)
    ex.shutdown(wait=False)

    report = _banks_pipeline(src, out).run(spark)["validation"]
    assert report["row_count"] == 3 and report["success"]
    assert spark.read.parquet(out).count() == 3
