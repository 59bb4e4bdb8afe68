from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ingestao_dados_poli_spark.functions import text as TX
from ingestao_dados_poli_spark.operators import dedup as DD


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base.replace("lazy", "sleepy")
    return spark.createDataFrame(
        [
            (1, base),
            (2, base.upper()),            # exact dup after normalization? (case)
            (3, near),                     # near dup
            (4, "completely different words about spark engines and parquet files"),
            (5, base),                     # exact dup
        ],
        ["doc_id", "text"],
    )


def test_token_counts(spark):
    df = spark.createDataFrame([("a b  c",), ("",), ("   ",)], ["t"])
    out = df.select(TX.n_tokens_ws("t").alias("n")).collect()
    assert [r.n for r in out] == [3, 0, 0]


def test_lang_id(spark):
    df = spark.createDataFrame(
        [("the cat is in the house and it is big",),
         ("o gato não está para uma casa com os outros",),
         ("xyzzy qwerty",)],
        ["t"],
    )
    out = [r.l for r in df.select(TX.lang_id("t").alias("l")).collect()]
    assert out[0] == "en"
    assert out[1] == "pt"
    assert out[2] == "und"


def test_scrub_pii(spark):
    df = spark.createDataFrame(
        [("mail me at alice.smith+x@corp.example.org or call +55 (11) 91234-5678 now",),
         ("no pii here",)],
        ["t"],
    )
    out = df.select(
        TX.scrub_pii("t").alias("s"), TX.pii_count("t").alias("n")
    ).collect()
    assert "alice" not in out[0].s and "91234" not in out[0].s
    assert out[0].s.count("[REDACTED]") == 2 and out[0].n == 2
    assert out[1].s == "no pii here" and out[1].n == 0


def test_repetition_ratio(spark):
    df = spark.createDataFrame(
        [("a a a a",), ("a b c d",), ("",)], ["t"]
    )
    out = [r.r for r in df.select(TX.repetition_ratio("t").alias("r")).collect()]
    assert out[0] == 0.75   # 1 distinct of 4
    assert out[1] == 0.0    # all distinct
    assert out[2] == 0.0    # empty → 0 by definition


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], ["t"])
    out = df.select(TX.shingles("t", k=3).alias("s")).collect()[0].s
    assert out == ["a b c", "b c d"]


def test_dedup_exact_keeps_lowest_id(spark):
    docs = _docs(spark)
    kept = sorted(r.doc_id for r in DD.dedup_exact(docs, "text", "doc_id").collect())
    # 1 == 2 (case-normalized) == 5 → keep 1; 3 and 4 unique
    assert kept == [1, 3, 4]


def test_minhash_finds_near_dup(spark):
    docs = _docs(spark)
    pairs = DD.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=32, num_bands=16
    ).collect()
    pairset = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 5) in pairset  # exact dups always collide
    est = {(r.id_a, r.id_b): r.est_jaccard for r in pairs}
    assert est[(1, 5)] == 1.0


def test_simhash_near_dup_small_hamming(spark):
    docs = _docs(spark)
    # chunking guarantees recall only for hamming < num_chunks: use 16
    # chunks so distances up to 15 are guaranteed to collide on a chunk
    pairs = DD.simhash_pairs(docs, "text", "doc_id", max_hamming=15, num_chunks=16)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got[(1, 5)] == 0          # identical → distance 0
    assert (1, 3) in got             # near dup → small distance
    assert got.get((1, 4), 99) > got[(1, 3)] or (1, 4) not in got


def test_jaccard_pairs_exact(spark):
    docs = _docs(spark)
    pairs = DD.jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.4)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert got[(1, 5)] == 1.0
    assert 0.4 <= got[(1, 3)] < 1.0


def test_dedup_incremental_exact(spark):
    existing = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "already  Known TEXT")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "Already known text"),     # dup of corpus (normalized)
            (11, "fresh content one"),
            (12, "fresh content one"),      # intra-batch dup, higher id
            (13, "fresh content two"),
        ],
        "doc_id long, text string",
    )
    out = DD.dedup_incremental_exact(new, existing, "text", "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [11, 13]
    # fingerprint-table path gives the same answer
    from pyspark.sql import functions as F

    fps = existing.select(DD.fingerprint_exact("text").alias("_fp"))
    out2 = DD.dedup_incremental_exact(
        new, fps, "text", "doc_id", existing_is_fingerprints=True
    )
    assert sorted(r.doc_id for r in out2.collect()) == [11, 13]


def test_minhash_hot_bucket_degrades_to_sampled_pairs(spark):
    """A bucket over max_bucket_size must yield SAMPLED pairs, not zero
    (the old behavior silently dropped it): with 40 identical docs and
    cap 10, pairs come back non-empty, bounded well below the 780
    all-pairs count, all est 1.0, and the pair graph connects all 40
    docs into ONE component (the anchor chain stitches sub-buckets) —
    the property downstream dedup clustering needs."""
    n = 40
    rows = [(i, "identical boilerplate footer text repeated verbatim " * 4)
            for i in range(n)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = DD.minhash_candidate_pairs(
        df, "text", "doc_id", num_hashes=32, num_bands=8, max_bucket_size=10
    ).collect()
    assert len(pairs) > 0                      # not dropped
    assert len(pairs) < n * (n - 1) // 2       # not all-pairs either
    assert all(r.est_jaccard == 1.0 for r in pairs)
    # union-find: the sampled pair graph must span all 40 docs
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        parent[find(r.id_a)] = find(r.id_b)
    assert len({find(i) for i in range(n)}) == 1


def test_minhash_under_cap_unchanged_by_degradation(spark):
    """Buckets at or under the cap must produce the identical pair set
    the uncapped expansion produces (the degraded path must be dead
    code there)."""
    df = _docs(spark)
    tight = DD.minhash_candidate_pairs(
        df, "text", "doc_id", num_hashes=32, num_bands=8, max_bucket_size=200
    ).collect()
    loose = DD.minhash_candidate_pairs(
        df, "text", "doc_id", num_hashes=32, num_bands=8, max_bucket_size=5
    ).collect()
    # 5 docs: every bucket is ≤ 5, so both configurations are exact
    assert sorted((r.id_a, r.id_b, r.est_jaccard) for r in tight) == sorted(
        (r.id_a, r.id_b, r.est_jaccard) for r in loose
    )


def test_simhash_hot_bucket_degrades(spark):
    n = 30
    rows = [(i, "same spam text block over and over again " * 3)
            for i in range(n)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = DD.simhash_pairs(
        df, "text", "doc_id", max_hamming=3, max_bucket_size=8
    ).collect()
    assert 0 < len(pairs) < n * (n - 1) // 2
    assert all(r.hamming == 0 for r in pairs)


def test_hamming_band_pairs_equals_brute_force(spark):
    """The shared SimHash/aHash band join finds exactly the all-pairs
    set within the hamming bound when no bucket hits the cap: 200
    random 64-bit signatures plus 30 planted copies at hamming 1-3."""
    rng = random.Random(11)
    sigs = [rng.getrandbits(64) for _ in range(200)]
    for i in range(30):
        s = sigs[i]
        for bit in rng.sample(range(64), 1 + i % 3):
            s ^= 1 << bit
        sigs.append(s)
    df = spark.createDataFrame(
        [(i, s - (1 << 64) if s >= 1 << 63 else s) for i, s in enumerate(sigs)],
        "_id long, sig long",
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in DD.hamming_band_pairs(df, 4, 16, 3, 1000).collect()
    }
    want = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in range(len(sigs))
        for b in range(a + 1, len(sigs))
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert len(want) >= 30
    assert got == want


@pytest.mark.parametrize("op", ["simhash", "ahash"])
def test_band_join_needs_more_bands_than_max_hamming(spark, op):
    from ingestao_dados_poli_spark.operators import multimodal as MM

    with pytest.raises(ValueError, match="max_hamming=3"):
        if op == "simhash":
            DD.simhash_pairs(_docs(spark), "text", "doc_id", max_hamming=3, num_chunks=3)
        else:
            hashes = spark.createDataFrame([(1, 0), (2, 1)], "media_id long, ahash long")
            MM.ahash_near_dup_pairs(hashes, bands=2, max_hamming=3)


def test_fp_store_lifecycle_multi_batch(spark, tmp_path):
    """Delta-per-batch fingerprint store: three ingests with planted
    cross-batch dups must reproduce the set-algebra reference, survive
    a compaction in the middle, and re-ingesting an already-seen batch
    must yield zero survivors (idempotent re-ingest after a crash)."""
    store = str(tmp_path / "fp")

    def batch(rows):
        return spark.createDataFrame(rows, ["doc_id", "text"])

    b1 = batch([(1, "alpha text"), (2, "beta text"), (3, "alpha text")])
    s1, v1 = DD.dedup_ingest_batch(spark, b1, store, "text", "doc_id")
    assert sorted(r.doc_id for r in s1.collect()) == [1, 2]  # 3 is intra dup
    assert v1 == 1

    b2 = batch([(10, "beta text"), (11, "gamma text")])
    s2, v2 = DD.dedup_ingest_batch(spark, b2, store, "text", "doc_id")
    assert [r.doc_id for r in s2.collect()] == [11]          # beta already seen
    assert v2 == 2

    vc = DD.fingerprint_store_compact(spark, store, keep=1)
    assert vc == 3
    fps = DD.fingerprint_store_read(spark, store)
    assert fps.distinct().count() == 3                        # alpha/beta/gamma

    b3 = batch([(20, "gamma text"), (21, "delta text"), (22, "alpha text")])
    s3, v3 = DD.dedup_ingest_batch(spark, b3, store, "text", "doc_id")
    assert [r.doc_id for r in s3.collect()] == [21]
    assert v3 == 4

    # idempotent re-ingest: same batch again → all fingerprinted already
    s3b, _ = DD.dedup_ingest_batch(spark, b3, store, "text", "doc_id")
    assert s3b.count() == 0


def test_fp_store_read_empty_is_none(spark, tmp_path):
    assert DD.fingerprint_store_read(spark, str(tmp_path / "nothing")) is None


def test_minhash_pairs_between_cross_side_only(spark):
    base = "one two three four five six seven eight nine ten " * 6
    left = spark.createDataFrame(
        [(1, base), (2, "completely different words in this document " * 8),
         (3, base + " tail")],
        "doc_id long, text string",
    )
    right = spark.createDataFrame(
        [(100, base), (101, "unrelated corpus text entirely " * 10),
         (102, "completely different words in this document " * 8)],
        "doc_id long, text string",
    )
    pairs = DD.minhash_pairs_between(left, right, "text", "doc_id").collect()
    got = {(r.left_id, r.right_id) for r in pairs}
    # identical cross-side texts must be found with est_jaccard ~1
    assert (1, 100) in got and (2, 102) in got
    strong = {(r.left_id, r.right_id): r.est_jaccard for r in pairs}
    assert strong[(1, 100)] == 1.0 and strong[(2, 102)] == 1.0
    # no within-side pairs ever: left ids only on the left, right on right
    assert all(l < 100 <= r for l, r in got)


def test_bucket_pairs_capped_properties(spark):
    """Property sweep of the hot-bucket degradation over random bucket
    sizes and caps (seeded stdlib RNG — each case costs one tiny Spark
    job, hypothesis's shrinking budget would multiply that):
    (a) the degraded pair set is a SUBSET of the exhaustive pair set,
    (b) every member appears in at least one pair (non-zero recall),
    (c) the pair graph spans the bucket in one connected component,
    (d) under-cap buckets get exactly the exhaustive pair set."""
    import random

    from pyspark.sql.types import ArrayType, LongType

    from ingestao_dados_poli_spark.operators.dedup import _bucket_pairs_capped

    rng = random.Random(23)
    cases = [(rng.randint(2, 60), rng.choice([2, 3, 5, 10, 50])) for _ in range(12)]
    for size, cap in cases:
        members = rng.sample(range(1000), size)
        df = spark.createDataFrame(
            [(members,)], schema="docs: array<bigint>"
        )
        rows = df.select(
            F.explode(_bucket_pairs_capped(F.col("docs"), cap)).alias("p")
        ).select("p.id_a", "p.id_b").collect()
        got = {(r.id_a, r.id_b) for r in rows}
        exhaustive = {
            (a, b)
            for i, a in enumerate(sorted(members))
            for b in sorted(members)[i + 1:]
        }
        assert got <= exhaustive, (size, cap)
        touched = {x for p in got for x in p}
        assert touched == set(members), (size, cap)
        parent = {m: m for m in members}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in got:
            parent[find(a)] = find(b)
        assert len({find(m) for m in members}) == 1, (size, cap)
        if size <= cap:
            assert got == exhaustive, (size, cap)


def test_bucket_pairs_cache_follows_gateway(spark, monkeypatch):
    """Cached Columns hold py4j refs into one gateway JVM; a new gateway
    (a full session restart clears SparkContext._gateway) must get a
    freshly built Column, not the dead refs of the old JVM."""
    from pyspark import SparkContext

    first = DD._bucket_pairs_capped_by_name("_docs", 7)
    assert DD._bucket_pairs_capped_by_name("_docs", 7) is first
    monkeypatch.setattr(SparkContext, "_gateway", object())
    fresh = DD._bucket_pairs_capped_by_name("_docs", 7)
    assert fresh is not first
    assert DD._bucket_pairs_capped_by_name("_docs", 7) is fresh
