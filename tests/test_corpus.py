from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ingestao_dados_poli_spark.operators import corpus as CO


def test_chunk_documents_overlap_reconstruction(spark):
    text = "abcdefghijklmnopqrstuvwxyz" * 10  # 260 chars
    df = spark.createDataFrame([(1, text), (2, "")], "doc_id long, text string")
    out = CO.chunk_documents(df, chunk_size=100, overlap=20).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    # stride 80: starts 1, 81, 161, 241 → 4 chunks
    assert [r.chunk_start for r in c1] == [1, 81, 161, 241]
    assert all(len(r.chunk_text) == 100 for r in c1[:-1])
    assert len(c1[-1].chunk_text) == 260 - 240
    # consecutive chunks overlap by exactly 20 chars
    for a, b in zip(c1, c1[1:]):
        assert a.chunk_text[-20:] == b.chunk_text[:20]
    # stitching non-overlapped prefixes reconstructs the document
    stitched = "".join(r.chunk_text[:80] for r in c1[:-1]) + c1[-1].chunk_text
    assert stitched == text
    # empty doc survives as one empty chunk
    assert [(r.chunk_id, r.chunk_text) for r in by_doc[2]] == [(0, "")]


def test_chunk_documents_rejects_bad_overlap(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        CO.chunk_documents(df, chunk_size=10, overlap=10)


def test_hash_split_deterministic_and_complete(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = CO.hash_split(df, id_col="doc_id", splits=splits)
    counts = {r.split: r.n for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000
    # uniform md5 buckets: expect ~1600/200/200, allow wide tolerance
    assert 1450 < counts["train"] < 1750
    assert 120 < counts["val"] < 280
    assert 120 < counts["test"] < 280
    # stability: membership is a pure function of the id, so a subset
    # gets the identical assignment (appends never move rows)
    sub = CO.hash_split(
        df.filter(F.col("doc_id") < 500), id_col="doc_id", splits=splits
    )
    full = {r.doc_id: r.split for r in a.filter(F.col("doc_id") < 500).collect()}
    assert {r.doc_id: r.split for r in sub.collect()} == full


def test_hash_split_rejects_zero_weights(spark):
    df = spark.range(1).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        CO.hash_split(df, id_col="doc_id", splits={"a": 0.0})


def test_pack_sequences_concat_then_chunk(spark):
    rows = [("s", i, w) for i, w in enumerate([500, 700, 900, 1200, 100])]
    df = spark.createDataFrame(rows, "src string, doc_id long, toks long")
    out = {
        r.doc_id: (r.token_offset, r.pack_id)
        for r in CO.pack_sequences(
            df,
            partition_cols=["src"],
            order_col="doc_id",
            token_col="toks",
            budget=1000,
        ).collect()
    }
    # offsets 0, 500, 1200, 2100, 3300 → packs 0,0,1,2,3
    assert out == {0: (0, 0), 1: (500, 0), 2: (1200, 1), 3: (2100, 2), 4: (3300, 3)}


def test_pack_sequences_requires_partitions(spark):
    df = spark.createDataFrame([("s", 1, 1)], "src string, doc_id long, toks long")
    with pytest.raises(ValueError):
        CO.pack_sequences(
            df, partition_cols=[], order_col="doc_id", token_col="toks", budget=10
        )


def test_token_entropy_known_distributions(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # H = 0
            (2, "a b c d"),          # H = 2 bits
            (3, "a a b b c c d d"),  # H = 2 bits
            (4, "  a   b  "),        # extra whitespace ignored → H = 1
            (5, ""),                 # no tokens → row drops out
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_tokens, r.entropy_bits) for r in CO.token_entropy(df).collect()}
    assert out[1] == (4, 0.0)
    assert out[2] == (4, 2.0)
    assert out[3] == (8, 2.0)
    assert out[4][0] == 2 and math.isclose(out[4][1], 1.0)
    assert 5 not in out


def test_token_filter_blacklist_and_length(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox is a fox")], "doc_id long, text string"
    )
    r = CO.token_filter(df, blacklist=["the", "a"], min_len=3).collect()[0]
    assert r.clean_text == "quick brown fox fox"
    assert r.n_kept_tokens == 4


def test_group_sample_exact_and_deterministic(spark):
    df = spark.range(300).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).cast("string").alias("g")
    )
    out = CO.group_sample(df, group_cols=["g"], id_col="doc_id", n=7)
    got = sorted((r.g, r.doc_id) for r in out.collect())
    per_group: dict[str, int] = {}
    for g, _ in got:
        per_group[g] = per_group.get(g, 0) + 1
    assert per_group == {"0": 7, "1": 7, "2": 7}
    # rerun picks the identical rows
    again = sorted(
        (r.g, r.doc_id)
        for r in CO.group_sample(df, group_cols=["g"], id_col="doc_id", n=7).collect()
    )
    assert again == got
    # small groups return the whole group, not an error
    tiny = spark.createDataFrame([(1, "x"), (2, "x")], "doc_id long, g string")
    assert CO.group_sample(tiny, group_cols=["g"], id_col="doc_id", n=7).count() == 2


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_corpus_plan_shapes(spark):
    """Shuffle-shape contracts: the scan-side ops must compile to plans
    with ZERO Exchange operators; the windowed ops to exactly ONE
    (their group-key hash partitioning)."""
    df = spark.createDataFrame(
        [(i, "s%d" % (i % 3), "tok " * 20) for i in range(50)],
        "doc_id long, source string, text string",
    ).withColumn("n_chars", F.length("text"))

    chunked = CO.chunk_documents(df, chunk_size=10, overlap=2)
    assert "Exchange" not in _plan(chunked)

    split = CO.hash_split(
        df, id_col="doc_id", splits={"train": 0.9, "test": 0.1}
    )
    assert "Exchange" not in _plan(split)

    filtered = CO.token_filter(df, blacklist=["tok"], min_len=1)
    assert "Exchange" not in _plan(filtered)

    packed = CO.pack_sequences(
        df,
        partition_cols=["source"],
        order_col="doc_id",
        token_col="n_chars",
        budget=100,
    )
    assert _plan(packed).count("Exchange") == 1

    sampled = CO.group_sample(df, group_cols=["source"], id_col="doc_id", n=5)
    assert _plan(sampled).count("Exchange") == 1


def test_hll_rollup_merge_matches_direct_sketch(spark):
    """Merging fine-grain HLL sketches (hll_union_agg) estimates the
    same cardinality as sketching the whole column directly — the
    property that makes incremental rollups sound. Not bit-identical:
    Datasketches union can promote the sketch mode, so the register
    state (and estimate) may differ by a hair — assert tolerance, not
    equality."""
    df = spark.createDataFrame(
        [(i % 400, "g%d" % (i % 7)) for i in range(2000)], "v long, g string"
    )
    direct = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("v", F.lit(12))).alias("e")
    ).collect()[0].e
    merged = (
        df.groupBy("g")
        .agg(F.hll_sketch_agg("v", F.lit(12)).alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .collect()[0]
        .e
    )
    assert abs(merged - direct) / direct <= 0.02
    assert abs(direct - 400) / 400 <= 0.05
    assert abs(merged - 400) / 400 <= 0.05


def test_boilerplate_ngrams_matches_python_count(spark):
    """Top-k 5-grams by distinct-document count, ties broken
    lexicographically, equal a plain Python count over the same docs."""
    header = "this document is provided under the sample license terms v1"
    rows = [
        (i, header + f" body {i} unique words here number {i * 7}")
        for i in range(40)
    ] + [(100 + i, f"totally distinct content {i} with no shared phrasing "
          f"at all beyond this sentence {i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [tuple(r) for r in CO.boilerplate_ngrams(df, n=5, top_k=10).collect()]
    freq: dict[str, int] = {}
    for _, text in rows:
        w = text.split(" ")
        for g in {" ".join(w[i : i + 5]) for i in range(len(w) - 4)}:
            freq[g] = freq.get(g, 0) + 1
    want = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert got == want
    assert sum(f == 40 for _, f in got) >= 5  # the header grams lead


def test_dedup_spans_removes_shared_spans_and_reassembles(spark):
    df = spark.createDataFrame(
        [
            # docs 1 and 2 share the span "x y z" (first 3-word chunk);
            # each keeps its unique tail
            (1, "x y z a b c"),
            (2, "x y z d e f"),
            # doc 3 entirely unique
            (3, "g h i j"),
            # doc 4 is ONLY the shared span -> empty after dedup
            (4, "x y z"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in CO.dedup_spans(df, span_words=3, max_doc_freq=1).collect()
    }
    assert out[1]["clean_text"] == "a b c"
    assert out[1]["n_spans"] == 2 and out[1]["n_removed"] == 1
    assert out[2]["clean_text"] == "d e f"
    # short tail chunk ("j") survives as its own span
    assert out[3]["clean_text"] == "g h i j"
    assert out[3]["n_removed"] == 0
    assert out[4]["clean_text"] == ""
    assert out[4]["n_spans"] == 1 and out[4]["n_removed"] == 1


def test_dedup_spans_hashed_matches_exact(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = CO.dedup_spans(docs, span_words=3).orderBy("doc_id").collect()
    hashed = (
        CO.dedup_spans(docs, span_words=3, hash_spans=True)
        .orderBy("doc_id")
        .collect()
    )
    assert exact == hashed


def test_dedup_spans_order_preserved_across_many_spans(spark):
    # 30 single-word spans; ensure in-row array_sort restores order
    words = " ".join(f"w{i:02d}" for i in range(30))
    df = spark.createDataFrame([(1, words)], ["doc_id", "text"])
    out = CO.dedup_spans(df, span_words=1).collect()[0]
    assert out["clean_text"] == words


def test_dedup_spans_null_text_no_phantom_spans(spark):
    """A NULL text doc must follow the empty-string path (one empty
    span kept, n_removed 0) — split(NULL) is NULL, size(NULL) is -1,
    and the un-coalesced sequence(0, -1) emitted the DESCENDING
    [0, -1]: two phantom NULL-span rows and a negative n_removed."""
    df = spark.createDataFrame(
        [(1, None), (2, "real words here to keep around")],
        "doc_id: bigint, text: string",
    )
    out = {r.doc_id: r for r in CO.dedup_spans(df, span_words=3).collect()}
    assert out[1].clean_text == ""
    assert out[1].n_removed == 0
    assert out[1].n_spans >= 0
    assert out[2].clean_text == "real words here to keep around"


def test_sentence_first_occurrence_marks_and_order(spark):
    df = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran! The cat sat.", "a"),
            (2, "the CAT sat? Fresh line. ", "b"),
            (3, None, "c"),
            (4, "", "c"),
        ],
        "doc_id long, text string, source string",
    )
    out = CO.sentence_first_occurrence(
        df, carry_cols=("source",)
    ).collect()
    # null/empty docs contribute no sentences
    assert all(r.doc_id not in (3, 4) for r in out)
    rows = {(r.doc_id, r.pos): r for r in out}
    # 'the cat sat' first occurs at doc 1 pos 1; repeats are marked
    assert rows[(1, 1)].is_first and rows[(1, 1)].sent == "the cat sat"
    assert not rows[(1, 3)].is_first
    assert not rows[(2, 1)].is_first  # case-normalized duplicate
    assert rows[(2, 2)].is_first
    # kept set is exactly the distinct sentence set
    kept = sorted(r.sent for r in out if r.is_first)
    assert kept == sorted({r.sent for r in out})


def test_sentence_first_occurrence_idempotent(spark):
    df = spark.createDataFrame(
        [(1, "A b. C d. A b."), (2, "C d! E f.")],
        "doc_id long, text string",
    )
    marked = CO.sentence_first_occurrence(df)
    kept = (
        marked.where("is_first")
        .groupBy("doc_id")
        .agg(F.array_join(F.sort_array(F.collect_list(
            F.struct("pos", "sent"))).sent, ". ").alias("text"))
    )
    again = CO.sentence_first_occurrence(kept)
    # a deduped corpus has nothing left to remove
    assert again.where(~F.col("is_first")).count() == 0


def test_bm25_topk_ranking_and_exactness(spark):
    df = spark.createDataFrame(
        [
            (1, "spark spark spark filler filler"),
            (2, "spark window filler filler filler filler filler filler"),
            (3, "window hash"),
            (4, "filler only text here"),
        ],
        ["doc_id", "text"],
    )
    out = CO.bm25_topk(df, ["spark", "window", "hash"], k=3).collect()
    assert [r.rank for r in out] == [1, 2, 3]
    assert all(r.doc_id != 4 for r in out)  # no query term -> never scored
    # doc 3 hits two rarer terms in a 2-word doc: it must outrank doc 2
    ranks = {r.doc_id: r.rank for r in out}
    assert ranks[3] < ranks[2]
    # determinism: same input, same exact integer scores
    again = CO.bm25_topk(df, ["spark", "window", "hash"], k=3).collect()
    assert [(r.doc_id, r.score_milli) for r in out] == [
        (r.doc_id, r.score_milli) for r in again
    ]


def test_repetition_profile_flags_pathological_docs(spark):
    clean = " ".join(f"w{i}" for i in range(40))
    word_spam = " ".join(["buy"] * 30 + [f"w{i}" for i in range(10)])
    loop = " ".join(["click here now pay us"] * 8)
    df = spark.createDataFrame(
        [(1, clean), (2, word_spam), (3, loop)], ["doc_id", "text"]
    )
    rows = {
        r.doc_id: r
        for r in CO.repetition_profile(df).collect()
    }
    assert not rows[1].flagged
    assert rows[1].top_word_milli == 1000 // 40
    assert rows[2].flagged and rows[2].top_word_milli == 750
    assert rows[3].flagged  # 5-gram loop: every 5-gram repeats
    assert rows[3].dup_5gram_milli > 800


def test_content_defined_chunks_local_rechunk(spark):
    # the CDC property: inserting words changes only the chunks around
    # the edit point; chunk hashes elsewhere are identical
    base_text = " ".join(f"tok{i}" for i in range(200))
    edited = " ".join(
        f"tok{i}" for i in range(100)
    ) + " INSERTED WORDS HERE " + " ".join(f"tok{i}" for i in range(100, 200))
    df = spark.createDataFrame(
        [(1, base_text), (2, edited)], ["doc_id", "text"]
    )
    out = CO.content_defined_chunks(df)
    h1 = {r.chunk_hash for r in out.where("doc_id = 1").collect()}
    h2 = {r.chunk_hash for r in out.where("doc_id = 2").collect()}
    shared = len(h1 & h2)
    # far more chunks survive than a fixed-size chunker would keep
    # (fixed-size: everything after the edit shifts); only the
    # neighborhood of the insertion may differ
    assert shared >= len(h1) - 3, (shared, len(h1), len(h2))


def test_content_defined_chunks_cover_document(spark):
    df = spark.createDataFrame([(1, "a b c d e f g h")], ["doc_id", "text"])
    rows = CO.content_defined_chunks(df).collect()
    assert sum(r.chunk_words for r in rows) == 8
    assert [r.chunk_idx for r in sorted(rows, key=lambda r: r.chunk_idx)] == list(
        range(1, len(rows) + 1)
    )
