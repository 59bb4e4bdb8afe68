"""Property-based tests for the round-4 operators whose correctness
arguments are algebraic (merge associativity, reassembly identity,
partition invariance, scale cancellation): hypothesis generates
adversarial inputs, a Python reference or an algebraic identity checks
the operator. One small DataFrame per example — max_examples stays low.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

BATCH_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

WORDS = st.lists(
    st.sampled_from(["a", "b", "c", "dd", "eee"]), min_size=0, max_size=12
)
DOCS = st.lists(WORDS, min_size=1, max_size=8)


@given(docs=DOCS)
@BATCH_SETTINGS
def test_dedup_spans_identity_when_threshold_infinite(spark, docs):
    """max_doc_freq >= n_docs removes nothing: clean_text == text and
    n_removed == 0 for every doc — reassembly is exact."""
    from ingestao_dados_poli_spark.operators import corpus as CO

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = CO.dedup_spans(df, span_words=2, max_doc_freq=len(docs))
    got = {r["doc_id"]: r for r in out.collect()}
    for i, ws in enumerate(rows):
        assert got[i]["clean_text"] == ws[1]
        assert got[i]["n_removed"] == 0


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["x", "y"]), st.floats(-100, 100)),
        min_size=1,
        max_size=20,
    ),
    cut1=st.integers(0, 20),
    cut2=st.integers(0, 20),
)
@BATCH_SETTINGS
def test_merge_aggregates_associative_over_any_3_way_split(
    spark, rows, cut1, cut2
):
    """Folding three delta batches in either association must equal the
    one-shot aggregate — the algebra incremental MV maintenance (and
    q154's streaming fold) rests on."""
    from ingestao_dados_poli_spark.operators import incremental as IC

    a, b = sorted((min(cut1, len(rows)), min(cut2, len(rows))))
    parts = [rows[:a], rows[a:b], rows[b:]]
    dfs = [
        spark.createDataFrame(p, "k string, v double") if p else None
        for p in parts
    ]
    states = [
        IC.partial_aggregate(d, ["k"], ["v"]) for d in dfs if d is not None
    ]
    if not states:
        return
    left = states[0]
    for s in states[1:]:
        left = IC.merge_aggregates(left, s, ["k"], ["v"])
    right = states[-1]
    for s in reversed(states[:-1]):
        right = IC.merge_aggregates(s, right, ["k"], ["v"])
    full = IC.partial_aggregate(
        spark.createDataFrame(rows, "k string, v double"), ["k"], ["v"]
    )
    def norm(df):
        out = {}
        for r in df.collect():
            out[r["k"]] = (
                r["state_cnt"],
                round(r["v_sum"], 6),
                r["v_min"],
                r["v_max"],
            )
        return out

    assert norm(left) == norm(right) == norm(full)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.text("abc", max_size=3)),
        min_size=1,
        max_size=25,
    ),
    n_parts=st.integers(1, 7),
)
@BATCH_SETTINGS
def test_table_fingerprint_invariant_under_repartition(spark, rows, n_parts):
    """The anti-entropy digests are order- and partitioning-independent
    — the property that makes them comparable across replicas that
    were written by different jobs."""
    from ingestao_dados_poli_spark.operators import audit as AU

    df = spark.createDataFrame(rows, "k long, s string")
    base = AU.table_fingerprint(df, ["k", "s"]).collect()[0]
    rep = AU.table_fingerprint(
        df.repartition(n_parts), ["k", "s"]
    ).collect()[0]
    assert (base["xor_fp"], base["sum_fp"], base["n_rows"]) == (
        rep["xor_fp"],
        rep["sum_fp"],
        rep["n_rows"],
    )


@given(
    vec=st.lists(st.floats(-10, 10, width=32), min_size=2, max_size=8),
    scale=st.floats(0.1, 50),
)
@BATCH_SETTINGS
def test_int8_cosine_scale_invariant(spark, vec, scale):
    """Quantized cosine is invariant to per-vector scaling (the scale
    cancels): codes of v and codes of s*v yield the same quantized
    cosine against any probe — the property that makes dequantization
    unnecessary."""
    from ingestao_dados_poli_spark.functions.vectors import (
        int8_cosine,
        quantize_int8,
    )

    if all(abs(x) < 1e-6 for x in vec):
        return
    probe = [1.0] * len(vec)
    df = spark.createDataFrame(
        [(vec, [x * scale for x in vec], probe)], ["v", "sv", "p"]
    ).select(
        F.col("v").cast("array<double>").alias("v"),
        F.col("sv").cast("array<double>").alias("sv"),
        F.col("p").cast("array<double>").alias("p"),
    )
    out = df.select(
        int8_cosine(quantize_int8("v"), quantize_int8("p")).alias("c1"),
        int8_cosine(quantize_int8("sv"), quantize_int8("p")).alias("c2"),
    ).collect()[0]
    assert out["c1"] is not None and out["c2"] is not None
    assert math.isclose(out["c1"], out["c2"], abs_tol=2e-2)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 100)),
        min_size=0,
        max_size=30,
    ),
    buckets=st.integers(1, 8),
)
@BATCH_SETTINGS
def test_salted_join_equals_plain_join(spark, rows, buckets):
    """Salting must never change an inner equi-join's multiset result —
    only its physical key distribution."""
    from ingestao_dados_poli_spark.operators import relational as R

    left = spark.createDataFrame(
        [(k, v) for k, v in rows] or [(None, None)], "k int, v int"
    ).filter(F.col("k").isNotNull())
    right = spark.createDataFrame(
        [(k, k * 10) for k in range(5)], "k int, w int"
    )
    plain = sorted(
        tuple(r) for r in left.join(right, "k").select("k", "v", "w").collect()
    )
    salted = sorted(
        tuple(r)
        for r in R.salted_join(left, right, "k", salt_buckets=buckets)
        .select("k", "v", "w")
        .collect()
    )
    assert plain == salted


@given(
    keys=st.lists(st.text("abcde", min_size=1, max_size=6), min_size=1, max_size=40),
    frac_pct=st.integers(0, 100),
)
@BATCH_SETTINGS
def test_deterministic_sample_is_stable_and_monotone(spark, keys, frac_pct):
    """md5-threshold sampling: membership is a pure function of the key
    (same rows on rerun and under repartition), and a LARGER fraction's
    sample is a superset of a smaller one — the property that makes
    incremental mixing auditable."""
    from ingestao_dados_poli_spark.operators import relational as R

    def sample(df, frac):
        return R.stratified_sample_deterministic(df, "k", "k", {}, default=frac)

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    frac = frac_pct / 100.0
    a = {r["k"] for r in sample(df, frac).collect()}
    b = {
        r["k"]
        for r in sample(df.repartition(5), frac).collect()
    }
    assert a == b
    if frac_pct <= 90:
        bigger = {
            r["k"]
            for r in sample(df, min(1.0, frac + 0.1)).collect()
        }
        assert a <= bigger
    full = {r["k"] for r in sample(df, 1.0).collect()}
    assert full == set(keys)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["p", "q", "r"]), min_size=0, max_size=8),
        min_size=1,
        max_size=6,
    )
)
@BATCH_SETTINGS
def test_dedup_spans_never_invents_text(spark, docs):
    """Span dedup output is always a SUBSEQUENCE property: every
    surviving span appears in the original doc at its original
    position — the operator deletes, it never reorders or invents."""
    from ingestao_dados_poli_spark.operators import corpus as CO

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in CO.dedup_spans(df, span_words=2).collect()}
    for i, text in rows:
        clean = out[i]["clean_text"]
        # clean words must be a subsequence of the original words
        orig = text.split(" ") if text else []
        kept = clean.split(" ") if clean else []
        it = iter(orig)
        assert all(w in it for w in kept), (text, clean)
        assert out[i]["n_removed"] >= 0
        assert out[i]["n_spans"] >= out[i]["n_removed"]



@given(docs=DOCS)
@BATCH_SETTINGS
def test_containment_pairs_match_python_reference(spark, docs):
    """containment_pairs == the brute-force shingle-set containment on
    arbitrary tiny corpora (k=2 so short docs still produce multi-
    shingle sets; the single-shingle fallback path is exercised by the
    empty/1-word docs hypothesis generates)."""
    from ingestao_dados_poli_spark.operators import dedup as DD

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): (r.cont_ab, r.cont_ba)
        for r in DD.containment_pairs(
            df, "text", "doc_id", k=2, min_permille=1
        ).collect()
    }

    def sh(ws):
        toks = " ".join(ws).split(" ") if ws else [""]
        # mirror shingles()/_rolling_shingle_hashes: one fallback
        # shingle when shorter than k
        if len(toks) < 2:
            return {tuple(toks)}
        return {tuple(toks[i : i + 2]) for i in range(len(toks) - 1)}

    sets = {i: sh(ws) for i, ws in enumerate(docs)}
    want = {}
    for a in sorted(sets):
        for b in sorted(sets):
            if a >= b:
                continue
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            ca = (1000 * inter) // len(sets[a])
            cb = (1000 * inter) // len(sets[b])
            if max(ca, cb) >= 1:
                want[(a, b)] = (ca, cb)
    assert got == want
