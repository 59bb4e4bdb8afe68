"""Empty-input hardening: every operator family must return an EMPTY
result with the right schema on empty input — not crash, not return
nulls. At 100 TB empty partitions, empty date slices, and
freshly-truncated tables are everyday inputs; an operator that
assumes >= 1 row fails exactly when a backfill window is empty."""

from __future__ import annotations

from pyspark.sql import functions as F

from ingestao_dados_poli_spark.operators import corpus as CO
from ingestao_dados_poli_spark.operators import dedup as DD
from ingestao_dados_poli_spark.operators import fuzzy as FZ
from ingestao_dados_poli_spark.operators import graph as G
from ingestao_dados_poli_spark.operators import relational as R
from ingestao_dados_poli_spark.operators import similarity as SIM
from ingestao_dados_poli_spark.operators import timeseries as TS
from ingestao_dados_poli_spark.partitioning import heavy_hitters


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def _empty_vecs(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<double>")


def test_dedup_family_empty(spark):
    docs = _empty_docs(spark)
    assert DD.dedup_exact(docs, "text", "doc_id").count() == 0
    assert DD.minhash_candidate_pairs(docs, "text", "doc_id").count() == 0
    assert DD.simhash_pairs(docs, "text", "doc_id").count() == 0
    assert DD.jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.5).count() == 0
    assert (
        DD.dedup_incremental_exact(docs, _empty_docs(spark), "text", "doc_id").count()
        == 0
    )
    assert (
        DD.minhash_pairs_between(docs, _empty_docs(spark), "text", "doc_id").count()
        == 0
    )
    # empty delta against a NON-empty corpus, and vice versa
    full = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
    assert DD.dedup_incremental_exact(docs, full, "text", "doc_id").count() == 0
    assert DD.dedup_incremental_exact(full, docs, "text", "doc_id").count() == 1


def test_similarity_family_empty(spark):
    vecs = _empty_vecs(spark)
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0])], "query_id long, query_vec array<double>"
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    out = SIM.ivf_topk(vecs, queries, cents, k=3, nprobe=2)
    assert out.count() == 0
    assert sorted(out.columns) == ["cos_sim", "query_id", "vec_id"]
    # empty QUERY side too
    eq = spark.createDataFrame([], "query_id long, query_vec array<double>")
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    assert SIM.ivf_topk(corpus, eq, cents, k=3, nprobe=2).count() == 0


def test_relational_family_empty(spark):
    e = spark.createDataFrame([], "k long, s long, e long")
    out = R.interval_join(
        e,
        e.select("k", F.col("s").alias("s2"), F.col("e").alias("e2")),
        left_range=("s", "e"),
        right_range=("s2", "e2"),
        bucket_width=10,
        extra_keys=["k"],
    )
    assert out.count() == 0
    left = spark.createDataFrame([], "k long, ts long, payload string")
    right = spark.createDataFrame([], "k long, ts long, v long")
    for slim in (False, True):
        a = R.asof_join(left, right, key="k", right_cols=["v"], slim=slim)
        assert a.count() == 0
        assert "asof_v" in a.columns
    assert R.contiguous_ids(left, ["ts"]).count() == 0


def test_corpus_graph_misc_empty(spark):
    docs = _empty_docs(spark)
    assert CO.boilerplate_ngrams(docs, n=3, top_k=5).count() == 0
    edges = spark.createDataFrame([], "src long, dst long")
    assert G.connected_components(edges).count() == 0
    assert G.pagerank_integer(edges, iterations=2).count() == 0
    names = spark.createDataFrame([], "key string, name string, block string")
    assert FZ.fuzzy_pairs(
        names, "key", "name", block_col="block", max_dist=3
    ).count() == 0
    ts = spark.createDataFrame([], "k long, ts long, v double")
    assert TS.linear_interpolate(ts, "v", "ts", partition_by=["k"]).count() == 0
    assert heavy_hitters(
        spark.createDataFrame([], "k long"), ["k"], k=5
    ).count() == 0


def test_graph_round_loops_empty_and_self_loop(spark):
    """No edges give no rows; one self-loop is its own 1-hop neighbour,
    its own label and its own cheapest route, with nothing further."""
    schema = "src long, dst long, w long"
    for rows, want in (([], set()), ([(7, 7, 5)], {(7, 7, 5)})):
        edges = spark.createDataFrame(rows, schema)
        reach = G.bounded_reachability(edges, max_depth=3)
        assert {tuple(r) for r in reach.collect()} == {(s, d, 1) for s, d, _ in want}
        lpa = G.label_propagation(edges, rounds=2)
        assert {tuple(r) for r in lpa.collect()} == {(s, s) for s, _, _ in want}
        best = G.bounded_shortest_path(edges, max_hops=3)
        assert {tuple(r) for r in best.collect()} == want


def test_round4_operators_empty(spark):
    """Round-4 operator families on empty input: correct empty-with-
    schema results, no crashes."""
    from ingestao_dados_poli_spark.operators import audit as AU
    from ingestao_dados_poli_spark.operators import incremental as IC
    from ingestao_dados_poli_spark.operators import privacy as PV

    docs = _empty_docs(spark)
    # span dedup: no docs -> no rows, schema intact
    out = CO.dedup_spans(docs, span_words=3)
    assert out.count() == 0
    assert out.columns == ["doc_id", "clean_text", "n_spans", "n_removed"]
    # inverted index + lookup on empty corpus
    idx = CO.build_inverted_index(docs)
    assert idx.count() == 0
    assert CO.lookup_all_terms(idx, ["spark"]).count() == 0
    # incremental agg: empty base merged with empty delta
    empty_kv = spark.createDataFrame([], "k string, v double")
    st = IC.partial_aggregate(empty_kv, ["k"], ["v"])
    assert st.count() == 0
    assert IC.merge_aggregates(st, st, ["k"], ["v"]).count() == 0
    assert IC.finalize(st, ["v"]).count() == 0
    # privacy: empty table is vacuously k-anonymous
    rep = PV.k_anonymity_report(empty_kv, ["k"], k=5)
    assert rep.count() == 0
    # fingerprints: empty group-by yields zero digest rows; global
    # digest yields one row with n_rows=0
    assert AU.table_fingerprint(empty_kv, ["k", "v"], ["k"]).count() == 0
    g = AU.table_fingerprint(empty_kv, ["k", "v"]).collect()[0]
    assert g["n_rows"] == 0
    # triangle count on an empty edge list is zero, not an error
    edges = spark.createDataFrame([], "src long, dst long")
    assert G.triangle_count(edges).collect()[0]["n_triangles"] == 0


def test_stats_pruning_empty_dir_and_missing_column(spark, tmp_path):
    from ingestao_dados_poli_spark.sources import stats as ST

    # a parquet dir with rows but stats requested for a MISSING column:
    # no stats rows -> prune keeps nothing to decide over
    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    st = ST.collect_file_stats(spark, p, ["no_such_col"])
    rows = st.collect()
    # stats rows exist per file but with NULL min/max -> always kept
    files, total = ST.prune_files(st, "no_such_col", "0", "1")
    assert len(files) == total == len(rows)
