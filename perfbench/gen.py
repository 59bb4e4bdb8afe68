"""Seeded input generators for the benchmark.

``registry_tables`` writes the TPC-H-ish star schema plus the events,
documents and embeddings tables that the query registry reads. It
matches the repository's test data in column names, parquet types
(``events.ts`` is a microsecond timestamp, as there), row counts per
scale factor, key ranges, category sets and null counts; the values are
drawn afresh, so query results differ in value but not in shape. ``medallion_landing`` writes the three landing files of the
medallion flow and returns the gold table a correct pipeline must
produce, computed here in plain Python from the generated rows.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS, LANG_P = ["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.14, 0.14, 0.13]

# The registry tables do not depend on the run seed: a run's seed shuffles
# the item order, so runs stay comparable item for item.
REGISTRY_SEED = 42


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def registry_tables(out_dir: str, sf: float) -> None:
    """Write ``<table>.parquet`` files for scale factor ``sf`` into out_dir."""
    rng = np.random.default_rng(REGISTRY_SEED)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_line, n_part = int(6_000_000 * sf), int(200_000 * sf)
    n_supp, n_ev = max(10, int(10_000 * sf)), int(1_000_000 * sf)
    tables: dict[str, pd.DataFrame] = {}
    tables["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
    )
    tables["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    })
    tables["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    tables["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype="int64")
    tables["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    tables["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["P", "F", "O"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2500, n_line),
    })
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev).cumsum()
    ts = np.datetime64("2024-01-01", "us") + (gaps * 1e6).astype("timedelta64[us]")
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(500):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(500, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, 500, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(500)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    centroids = rng.normal(size=(10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, 500)
    vecs = 0.14 * centroids[labels] + rng.normal(0.0, 0.125, (500, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(500, dtype="int64"),
        "embedding": list(vecs),
        "label": labels.astype("int32"),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


# ---------------------------------------------------------------- medallion

# Landing name decorations. Each one must conform back to the canonical
# name through medallion.NAME_RULES, so the gold join on `nome` only
# matches when every conforming rule does its job.
CLAIM_DECOR = ["", " S.A.", " (conglomerado)", " S.A. (conglomerado)"]
BANK_DECOR = ["", " S.A.", " - PRUDENCIAL"]
# employees-side raw name -> claims-side canonical name (medallion.GOLD_NAME_REMAP)
REMAPPED = {"SOCIAL BANK BANCO MÚLTIPLO": "BANCO CAPITAL", "SF3 CRÉDITO": "SANTANA CRÉDITO"}
NAME_WORDS = ["ALFA", "BETA", "CRÉDITO", "MÚLTIPLO", "INVESTIMENTOS", "CAIXA",
              "NACIONAL", "DIGITAL", "COOPERATIVO", "SUL", "NORTE", "PAULISTA"]
CATEGORIES = ["Bancos", "Financeiras", "Cooperativas", "Pagamentos"]

CLAIMS_HEADER = [
    "Categoria", "Instituição financeira", "CNPJ IF", "Índice",
    "Quantidade de reclamações reguladas procedentes",
    "Quantidade de clientes – SCR", "Quantidade total de clientes – CCS e SCR",
    "Quantidade total de reclamações",
]
GOLD_COLUMNS = [
    "Nome do Banco", "CNPJ", "Classificação", "Quantidade de Clientes do Bancos",
    "Índice de reclamações", "Quantidade de reclamações",
    "Índice de satisfação dos funcionários dos bancos",
    "Índice de satisfação com salários dos funcionários dos bancos",
]


@dataclass
class Landing:
    dirs: dict[str, str]          # zone -> landing directory
    rows: dict[str, int]          # zone -> landing data rows
    gold: dict[tuple, tuple]      # (nome, cnpj, categoria) -> metric tuple


def _half_up(x: float) -> float:
    return float(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def medallion_landing(out_dir: str, seed: int, n_banks: int, n_claims: int) -> Landing:
    """Write banks (tab), claims (comma) and employees (pipe) landing CSVs."""
    rng = np.random.default_rng(seed)
    names = [f"BANCO {NAME_WORDS[i % len(NAME_WORDS)]} {i}" for i in range(n_banks - 2)]
    names += sorted(REMAPPED.values())
    cnpjs = [f"{c:08d}" for c in rng.choice(10**8, n_banks, replace=False)]
    segment = [f"S{s}" for s in rng.integers(1, 6, n_banks)]
    category = [CATEGORIES[c] for c in rng.integers(0, len(CATEGORIES), n_banks)]
    rows = {"banks": n_banks, "claims": n_claims}
    dirs = {z: os.path.join(out_dir, z) for z in ("banks", "claims", "employees")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)

    with open(os.path.join(dirs["banks"], "banks.csv"), "w", encoding="utf-8", newline="") as fh:
        w = csv.writer(fh, delimiter="\t", lineterminator="\n")
        w.writerow(["Segmento", "CNPJ", "Nome"])
        for i, name in enumerate(names):
            raw = name + BANK_DECOR[i % len(BANK_DECOR)]
            if i % 4 == 0:  # fantasy name after a double space (banks nome_fantasia)
                raw += f"  {NAME_WORDS[i % len(NAME_WORDS)]}"
            w.writerow([segment[i], cnpjs[i], raw])

    # Employees: one row for about two thirds of the banks, so the gold left
    # join has both matched and unmatched names.
    employees: dict[str, tuple[float, float]] = {}
    by_canonical = {v: k for k, v in REMAPPED.items()}
    with open(os.path.join(dirs["employees"], "employees.csv"), "w", encoding="utf-8", newline="") as fh:
        w = csv.writer(fh, delimiter="|", lineterminator="\n")
        w.writerow(["employer_name", "Geral", "Remuneração e benefícios", "Segmento", "CNPJ", "Nome"])
        n_emp = 0
        for i, name in enumerate(names):
            if rng.random() < 0.33 and name not in by_canonical:
                continue
            geral, pay = round(float(rng.uniform(1, 5)), 1), round(float(rng.uniform(1, 5)), 1)
            employees[name] = (geral, pay)
            raw = by_canonical.get(name, name + ("" if i % 2 else " S.A."))
            w.writerow([raw.lower(), geral, pay, segment[i], cnpjs[i], raw])
            n_emp += 1
    rows["employees"] = n_emp

    bank_of = rng.integers(0, n_banks, n_claims)
    unknown = rng.random(n_claims) < 0.05  # cnpj absent from banks: dropped by the inner join
    indice = rng.integers(0, 5000, n_claims)
    clientes = rng.integers(1, 1_000_000, n_claims)
    reclam = rng.integers(0, 2000, n_claims)
    acc: dict[tuple, list] = {}
    with open(os.path.join(dirs["claims"], "claims.csv"), "w", encoding="utf-8", newline="") as fh:
        w = csv.writer(fh, delimiter=",", lineterminator="\n", quoting=csv.QUOTE_MINIMAL)
        w.writerow(CLAIMS_HEADER)
        for r in range(n_claims):
            b = int(bank_of[r])
            cnpj = f"9{r:08d}" if unknown[r] else cnpjs[b]
            idx = f"{indice[r] // 100},{indice[r] % 100:02d}"
            raw = names[b] + CLAIM_DECOR[r % len(CLAIM_DECOR)]
            w.writerow([category[b], raw, cnpj, idx, int(reclam[r]) // 2,
                        int(clientes[r]) // 3, int(clientes[r]), int(reclam[r])])
            if unknown[r]:
                continue
            a = acc.setdefault((names[b], cnpj, category[b]), [0, 0.0, 0, 0.0])
            a[0] += 1
            a[1] += float(clientes[r])
            a[2] += int(indice[r] // 100)  # reference int truncation of "12,34" -> 12
            a[3] += float(reclam[r])

    gold = {}
    for key, (n, cli, idx_sum, rec) in acc.items():
        emp = employees.get(key[0])
        gold[key] = (
            _half_up(cli / n), idx_sum / n, rec / n,
            emp[0] if emp else None, emp[1] if emp else None,
        )
    return Landing(dirs=dirs, rows=rows, gold=gold)
