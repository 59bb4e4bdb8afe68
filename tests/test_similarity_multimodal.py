from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from ingestao_dados_poli_spark.functions import vectors as V
from ingestao_dados_poli_spark.operators import multimodal as MM
from ingestao_dados_poli_spark.operators import similarity as SIM


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, [1.0, 0.0, 0.001]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_vector_math(spark):
    df = spark.createDataFrame([([1.0, 2.0], [3.0, 4.0])], ["a", "b"])
    row = df.select(
        V.dot("a", "b").alias("dot"),
        V.norm("a").alias("na"),
        V.cosine("a", "b").alias("cos"),
    ).collect()[0]
    assert row.dot == 11.0
    assert abs(row.na - math.sqrt(5)) < 1e-12
    assert abs(row.cos - 11.0 / (math.sqrt(5) * 5.0)) < 1e-12


def test_topk_lsh_recall_on_exact_match(spark):
    corpus = _vecs(spark)
    queries = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = SIM.topk_lsh(corpus, queries, k=3, num_planes=4, num_tables=8)
    got = [r.vec_id for r in out.collect()]
    assert 0 in got  # identical vector always lands in the same buckets


def test_embedding_near_dup(spark):
    pairs = SIM.embedding_near_dup_pairs(
        _vecs(spark), threshold=0.99, num_planes=4, num_tables=8
    ).collect()
    pairset = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 4) in pairset  # nearly identical vectors


def test_embedding_near_dup_degenerate_bucket_capped(spark):
    # A corpus of N identical vectors lands in ONE signature bucket per
    # table; the hot bucket must degrade to SAMPLED pairs — non-empty
    # (a drop would be silent 100% recall loss exactly where embedding
    # near-dups concentrate), well below the N·(N-1)/2 all-pairs count,
    # and spanning all N vectors in ONE connected component (same
    # contract as dedup.minhash_candidate_pairs).
    n = 40
    df = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0]) for i in range(n)], ["vec_id", "embedding"]
    )
    cap = 10
    pairs = SIM.embedding_near_dup_pairs(
        df, threshold=0.0, num_planes=4, num_tables=2, max_bucket_size=cap
    ).collect()
    assert 0 < len(pairs) < n * (n - 1) // 2
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        parent[find(r.id_a)] = find(r.id_b)
    assert len({find(i) for i in range(n)}) == 1
    # with the cap above N the full pair set comes back
    full = SIM.embedding_near_dup_pairs(
        df, threshold=0.0, num_planes=4, num_tables=2, max_bucket_size=n
    ).count()
    assert full == n * (n - 1) // 2


def test_topk_lsh_degenerate_bucket_capped(spark):
    # corpus of identical vectors + 1 query hitting that bucket: the
    # candidate set (pre-rank) must be bounded by max_bucket_size.
    n = 40
    corpus = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0]) for i in range(n)], ["vec_id", "embedding"]
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], ["query_id", "query_vec"]
    )
    out = SIM.topk_lsh(
        corpus, queries, k=n, num_planes=4, num_tables=2, max_bucket_size=5
    ).collect()
    assert 0 < len(out) <= 5


@pytest.mark.parametrize("dim", [8, 64])
def test_lsh_signatures_match_numpy_reference(spark, dim):
    """The one LSH kernel reads the vector length from the data and
    signs against the ``_plane_signs`` hyperplanes: signature bit p of
    table t is (v · planes[t][p] > 0)."""
    planes, tables = 6, 3
    rng = np.random.default_rng(dim)
    vecs = rng.standard_normal((40, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    sig = SIM._lsh_signatures_udf(planes, tables)("embedding")
    got = {r.vec_id: list(r.s) for r in df.select("vec_id", sig.alias("s")).collect()}
    for i, v in enumerate(vecs):
        want = [
            sum(
                1 << p
                for p in range(planes)
                if v @ np.array(SIM._plane_signs(t, p, dim)) > 0
            )
            for t in range(tables)
        ]
        assert got[i] == want


@pytest.mark.parametrize("op", ["topk_lsh", "embedding_near_dup_pairs"])
def test_lsh_ragged_vectors_raise(spark, op):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    if op == "topk_lsh":
        queries = df.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        out = SIM.topk_lsh(df.coalesce(1), queries.coalesce(1), num_planes=4, num_tables=2)
    else:
        out = SIM.embedding_near_dup_pairs(df.coalesce(1), num_planes=4, num_tables=2)
    with pytest.raises(Exception, match="dimensions"):
        out.collect()


def test_nearest_centroid(spark):
    out = SIM.nearest_centroid(
        _vecs(spark), centroids=[[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    )
    got = {r.vec_id: r.centroid_id for r in out.collect()}
    assert got[0] == 0 and got[1] == 0 and got[2] == 1 and got[3] == 2


_IVF_CENTROIDS = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]


def _ivf_corpus(spark):
    # 3 tight clusters around the axes, 4 vectors each
    rows = []
    for c, base in enumerate(_IVF_CENTROIDS):
        for j in range(4):
            v = [x + (0.01 * j if i == (c + 1) % 3 else 0.0) for i, x in enumerate(base)]
            rows.append((c * 4 + j, v))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_ivf_topk_nprobe_all_equals_bruteforce(spark):
    corpus = _ivf_corpus(spark)
    queries = spark.createDataFrame(
        [(0, [0.9, 0.1, 0.0]), (1, [0.0, 0.1, 0.9])], ["query_id", "query_vec"]
    )
    ivf = SIM.ivf_topk(corpus, queries, _IVF_CENTROIDS, k=5, nprobe=3)

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    exact = []
    for q in queries.collect():
        scored = sorted(
            ((-cos(r.embedding, q.query_vec), r.vec_id) for r in corpus.collect())
        )[:5]
        exact += [(q.query_id, vid, round(-neg, 9)) for neg, vid in scored]
    key = lambda r: (r.query_id, r.vec_id, round(r.cos_sim, 9))
    assert sorted(exact) == sorted(map(key, ivf.collect()))


def test_ivf_topk_nprobe_one_prunes_to_probed_partition(spark):
    corpus = _ivf_corpus(spark)
    queries = spark.createDataFrame(
        [(7, [0.9, 0.05, 0.0])], ["query_id", "query_vec"]
    )
    out = SIM.ivf_topk(corpus, queries, _IVF_CENTROIDS, k=12, nprobe=1).collect()
    # k exceeds the partition size on purpose: with nprobe=1 only the
    # query's own centroid partition (vec_id 0-3) is scored — the other
    # 8 corpus vectors never enter the candidate set.
    assert {r.vec_id for r in out} == {0, 1, 2, 3}


def test_semantic_dedup_keeps_canonical_per_group(spark):
    # cluster 0: vecs 0,1,2 are near-identical (dup group) + vec 3 distinct
    # direction within the same centroid; cluster 1: lone vec 4.
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.001, 0.0]),
        (2, [0.998, 0.002, 0.0]),
        (3, [0.7, 0.0, 0.7]),
        (4, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = SIM.semantic_dedup(
        df, centroids=[[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]], threshold=0.95
    )
    got = {r.vec_id: (r.component, r.kept) for r in out.collect()}
    assert got[0] == (0, True)
    assert got[1] == (0, False) and got[2] == (0, False)  # merged into 0
    assert got[3][1] and got[4][1]  # singletons kept
    assert len(got) == 5


def test_multimodal_feature_extraction_plumbing(spark):
    media = MM.synthetic_media(spark, n=30)
    feats = MM.extract_image_features(media, dim=8)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r.features) == 8 for r in rows)
    assert all(0.0 <= v < 1.0 for r in rows for v in r.features)
    # deterministic: same payload → same features
    again = {r.media_id: r.features for r in MM.extract_image_features(media, dim=8).collect()}
    assert all(again[r.media_id] == r.features for r in rows)


def test_ppm_roundtrip_and_real_decode(spark):
    import numpy as np

    from ingestao_dados_poli_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(5, 9, 3), dtype=np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(arr)), arr)
    # comment + multi-whitespace header variant decodes too
    hdr = b"P6\n# a comment\n 9  5\n255\n" + arr.tobytes()
    assert np.array_equal(decode_ppm(hdr), arr)


def test_ppm_featurizer_exact_strip_means(spark):
    import numpy as np

    from ingestao_dados_poli_spark.operators.multimodal import (
        encode_ppm,
        ppm_featurizer,
    )

    # constant-valued image: every strip mean is exactly v/255
    v = 100
    arr = np.full((4, 8, 3), v, dtype=np.uint8)
    feats = ppm_featurizer(4)(encode_ppm(arr))
    assert len(feats) == 4
    assert all(abs(f - v / 255.0) < 1e-6 for f in feats)
    # left-black/right-white image: first strip 0, last strip 1
    arr2 = np.zeros((4, 8, 3), dtype=np.uint8)
    arr2[:, 4:, :] = 255
    f2 = ppm_featurizer(2)(encode_ppm(arr2))
    assert abs(f2[0]) < 1e-6 and abs(f2[1] - 1.0) < 1e-6


def test_real_image_decode_distributed(spark):
    from ingestao_dados_poli_spark.operators.multimodal import (
        extract_image_features,
        ppm_featurizer,
        synthetic_ppm_media,
    )

    media = synthetic_ppm_media(spark, n=32, width=16, height=8)
    rows = extract_image_features(
        media, dim=4, featurizer=ppm_featurizer(4)
    ).collect()
    assert len(rows) == 32
    for r in rows:
        assert r.n_bytes > 16 * 8 * 3  # real raster + header
        assert len(r.features) == 4
        assert all(0.0 <= f <= 1.0 for f in r.features)
    # decode is deterministic → same media_id, same features
    again = extract_image_features(
        media, dim=4, featurizer=ppm_featurizer(4)
    ).collect()
    assert {r.media_id: r.features for r in rows} == {
        r.media_id: r.features for r in again
    }


def test_l2_normalize_arrow_values_and_zero_vector(spark):
    import math

    from ingestao_dados_poli_spark.operators.similarity import (
        l2_normalize_arrow,
    )

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in l2_normalize_arrow(df).collect()}
    assert math.isclose(out[1].norm, 5.0)
    assert [round(x, 6) for x in out[1].unit] == [0.6, 0.8]
    # zero vector: norm 0, all-zero unit (no NaN poison)
    assert out[2].norm == 0.0 and out[2].unit == [0.0, 0.0]
    assert out[3].unit == [1.0, 0.0]
    # shuffle-free: a pure map over scan batches
    plan = l2_normalize_arrow(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_int8_quantization_bounds_and_accuracy(spark, sf_dir):
    from pyspark.sql import functions as F

    from ingestao_dados_poli_spark.functions.vectors import (
        cosine,
        int8_cosine,
        quantize_int8,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("v", F.col("embedding").cast("array<double>"))
        .limit(50)
    )
    a = emb.select(
        "vec_id", "v", quantize_int8("v").alias("q")
    )
    # codes bounded and extremal: max |q| == 127 for any nonzero vector
    stats = a.select(
        F.array_max(F.transform("q", lambda x: F.abs(x))).alias("mx")
    ).collect()
    assert all(r["mx"] == 127 for r in stats)
    # quantized cosine tracks exact cosine within quantization noise
    b = a.selectExpr("vec_id as vid2", "v as v2", "q as q2")
    pairs = a.crossJoin(b).filter(F.col("vec_id") < F.col("vid2")).select(
        cosine("v", "v2").alias("exact"),
        int8_cosine("q", "q2").alias("approx"),
    )
    err = pairs.agg(
        F.max(F.abs(F.col("exact") - F.col("approx"))).alias("e")
    ).collect()[0]["e"]
    assert err < 0.02


def test_int8_cosine_zero_vector_is_null_not_error(spark):
    from pyspark.sql import functions as F

    from ingestao_dados_poli_spark.functions.vectors import (
        int8_cosine,
        quantize_int8,
    )

    df = spark.createDataFrame(
        [([0.0, 0.0, 0.0], [1.0, 2.0, 2.0])], ["a", "b"]
    )
    out = df.select(
        int8_cosine(quantize_int8("a"), quantize_int8("b")).alias("c")
    ).collect()[0]
    assert out["c"] is None


def test_quantized_topk_recall_vs_exact(spark, sf_dir):
    from ingestao_dados_poli_spark import queries as Q

    exact = Q.QUERIES["q26_embedding_topk"](spark, sf_dir).collect()
    quant = Q.QUERIES["q142_quantized_topk"](spark, sf_dir).collect()
    by_q_exact: dict[int, set] = {}
    by_q_quant: dict[int, set] = {}
    for r in exact:
        by_q_exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in quant:
        by_q_quant.setdefault(r["query_id"], set()).add(r["vec_id"])
    # int8 noise may swap near-ties at the tail; demand recall@5 >= 4/5
    for qid, ids in by_q_exact.items():
        assert len(ids & by_q_quant[qid]) >= 4, (qid, ids, by_q_quant[qid])


def test_auto_num_planes_scales_with_corpus():
    # expected bucket size held constant: planes grow with log2(n)
    assert SIM.auto_num_planes(1_000) == 8          # clamps at min
    assert SIM.auto_num_planes(5_000) == 8
    assert SIM.auto_num_planes(50_000) == 11
    assert SIM.auto_num_planes(500_000) == 14
    assert SIM.auto_num_planes(50_000_000) == 21
    assert SIM.auto_num_planes(10**12) == 24        # clamps at max
    assert SIM.auto_num_planes(0) == 8              # empty input safe


def test_embedding_near_dup_auto_planes_keeps_identical_pairs(spark):
    # identical vectors share signatures in EVERY table at ANY plane
    # count, so auto mode must find them regardless of the operating
    # point it picks
    pairs = SIM.embedding_near_dup_pairs(
        _vecs(spark), threshold=0.99, num_planes="auto", num_tables=8
    ).collect()
    assert (0, 4) in {(r.id_a, r.id_b) for r in pairs}


def test_image_ahash_near_dup_planted_truth(spark):
    from ingestao_dados_poli_spark.operators import multimodal as MM

    media = MM.synthetic_ppm_blocks(spark, n_base=12)
    hashes = MM.image_ahash(media)
    pairs = MM.ahash_near_dup_pairs(hashes, bands=4, max_hamming=3).collect()
    got = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b)) for r in pairs}
    assert got == {(i, i + 12) for i in range(12)}
    assert all(r.hamming == 2 for r in pairs)
    # hash equals the first-principles block pattern
    bits = MM._block_bits(3, 8)
    exp = 0
    for b in bits:
        exp = (exp << 1) | b
    if exp >= 1 << 63:
        exp -= 1 << 64
    row = hashes.where("media_id = 3").collect()
    assert row[0].ahash == exp
