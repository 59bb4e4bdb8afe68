"""Scale smoke: synthesize N documents IN SPARK (no driver-side data)
and time the dedup family at two sizes, printing the scaling ratio.

The point is the trend, not the absolute numbers: candidate-pair
operators must scale ~linearly in document count (bucket caps bound the
quadratic tail), or they would not survive 100 TB. Usage:

    python tools/scale_smoke.py [small_n] [big_n]    # default 5000 50000
    python tools/scale_smoke.py --huge               # + 100x rung (500k docs)

``--huge`` adds a third tier at 100x the small size for the
dedup/similarity family — the 100 TB design claim needs more than one
10x data point — and the artifact gains ``time_ratio_huge`` (huge vs
small, i.e. the 100x column). Every operator also records the SHUFFLE
WRITE BYTES of its own job group per tier (``obs.harvest``): local
wall-clock can't distinguish an in-process shuffle from a cluster
network shuffle, so bytes are the honest scale signal (a superlinear
shuffle-byte curve is a cluster bottleneck even when local time looks
linear).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from ingestao_dados_poli_spark.operators import corpus as CO
from ingestao_dados_poli_spark.operators import dedup as DD
from ingestao_dados_poli_spark.operators import fuzzy as FZ
from ingestao_dados_poli_spark.operators import graph as G
from ingestao_dados_poli_spark.operators import relational as R
from ingestao_dados_poli_spark.operators import similarity as SIM
from ingestao_dados_poli_spark.functions import text as TX
from ingestao_dados_poli_spark.obs import harvest
from ingestao_dados_poli_spark.session import get_spark


def synth_docs(spark, n: int, dup_rate: float = 0.1, words_per_doc: int = 120):
    """Deterministic synthetic corpus, generated distributed: ~dup_rate
    of docs share a base text with a neighbor (near-dups by design)."""
    base = spark.range(n)
    # word stream seeded by (doc, position) hash — no data leaves the driver
    words = F.transform(
        F.sequence(F.lit(0), F.lit(words_per_doc - 1)),
        lambda i: F.concat(
            F.lit("w"),
            (F.abs(F.xxhash64(F.col("base_id"), i)) % 5000).cast("string"),
        ),
    )
    return base.select(
        F.col("id").alias("doc_id"),
        # duplicate cluster: every 1/dup_rate-th doc reuses the previous
        # doc's base_id → shares ~all shingles with it
        F.when(
            (F.col("id") % int(1 / dup_rate) == 1) & (F.col("id") > 0),
            F.col("id") - 1,
        )
        .otherwise(F.col("id"))
        .alias("base_id"),
    ).select("doc_id", F.array_join(words, " ").alias("text"))


def synth_boiler_docs(spark, n: int, words_per_doc: int = 60):
    """Boilerplate-heavy corpus: every third doc carries ONE identical
    text, so each LSH band holds a single hot bucket of ~n/3 members —
    the degenerate case the bucket cap exists for. Before graceful
    degradation this produced ZERO pairs (bucket dropped); now it must
    produce bounded, non-empty sampled pairs covering every member."""
    boiler = " ".join(f"boiler{i}" for i in range(words_per_doc))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(words_per_doc - 1)),
        lambda i: F.concat(
            F.lit("w"),
            (F.abs(F.xxhash64(F.col("id"), i)) % 5000).cast("string"),
        ),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, F.lit(boiler))
        .otherwise(F.array_join(words, " "))
        .alias("text"),
    )


def synth_names(spark, n: int, n_blocks: int = 50):
    """Deterministic short entity names with a low-cardinality block
    column — the fuzzy-match worst case (big blocks), to prove the
    max_block_size cap keeps pair generation ~linear in n."""
    words = F.transform(
        F.sequence(F.lit(0), F.lit(3)),
        lambda i: F.concat(
            F.lit("n"),
            (F.abs(F.xxhash64(F.col("id"), i)) % 300).cast("string"),
        ),
    )
    return spark.range(n).select(
        F.col("id").alias("key"),
        (F.col("id") % n_blocks).cast("string").alias("block"),
        F.array_join(words, " ").alias("name"),
    )


def synth_vecs(spark, n: int, dim: int = 32, dup_rate: float = 0.1):
    """Deterministic synthetic embeddings, generated distributed; every
    1/dup_rate-th vector duplicates its neighbor (guaranteed near-dups),
    so the LSH self-collision path always has real work to do."""
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (F.abs(F.xxhash64(F.col("base_id"), i)) % 1000).cast("double")
        / 500.0
        - 1.0,
    )
    return (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.when(
                (F.col("id") % int(1 / dup_rate) == 1) & (F.col("id") > 0),
                F.col("id") - 1,
            )
            .otherwise(F.col("id"))
            .alias("base_id"),
        )
        .select("vec_id", vec.alias("embedding"))
    )


def synth_edges(spark, n: int, block: int = 4):
    """~n-row undirected edge list over n nodes: chains inside blocks
    of ``block`` nodes (edge i->i+1 except across a block boundary),
    so ~n*(block-1)/block edges and a graph DIAMETER fixed at block-1
    at every tier — the dedup-graph regime (quasi-cliques / short
    chains). A fixed diameter pins the iterative ops' round count, so
    the per-edge shuffle curve isolates per-round join+agg cost from
    iteration-count drift."""
    return (
        spark.range(n - 1)
        .filter((F.col("id") + 1) % block != 0)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )


def synth_clique_edges(spark, n: int, block: int = 4):
    """K4 clique blocks over n nodes (n divisible by 4): 6 edges and 4
    triangles per block — a BOUNDED-DEGREE graph (deg 3 everywhere),
    the regime triangle counting's canonical orientation promises
    linear wedge fan-out for. Per-edge shuffle bytes must stay flat as
    blocks multiply; a superlinear curve here means the wedge join
    stopped being degree-bounded."""
    blk_end = (F.floor(F.col("id") / block) * block + block - 1).cast("long")
    return (
        spark.range(n)
        .select(
            F.col("id").alias("src"),
            F.explode(
                F.when(
                    F.col("id") < blk_end,
                    F.sequence(F.col("id") + 1, blk_end),
                ).otherwise(F.array().cast("array<long>"))
            ).alias("dst"),
        )
    )


def time_op(fn) -> float:
    t0 = time.time()
    fn().write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 2)


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--huge"]
    huge_tier = "--huge" in sys.argv[1:]
    small = int(args[0]) if args else 5_000
    big = int(args[1]) if len(args) > 1 else 50_000
    huge = small * 100
    # 12 operator families x 2 sizes in ONE session accumulate enough
    # listener/UI state that the default 16g driver heap OOMs near the
    # end (observed at the ~190th stage); default up unless the caller
    # already chose a size.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    # Broadcast joins OFF for the whole smoke (smoke-local session; no
    # leak): at 100 TB none of these operators' build sides fit in an
    # executor, so the cluster plan is the shuffle plan — but locally
    # the SMALL tiers' build sides duck under the 10 MB threshold and
    # skip exchanges the huge tier pays, which is exactly how round 5's
    # artifact reported exact-dedup "1019x" shuffle growth: the small
    # tier broadcast the keep-set (0.24 MB moved), the huge tier
    # crossed the threshold and shuffled the corpus (linear-in-bytes
    # from there). Forcing the shuffle plan at every tier makes the
    # ratio measure the OPERATOR's curve, not a threshold crossing.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    # untimed warmup: JIT, codegen, Python UDF worker pool — otherwise
    # the small run absorbs it all and the ratio flatters the big run
    warm = synth_docs(spark, 500).cache()
    warm.count()
    for op in (
        lambda: DD.dedup_exact(warm, "text", "doc_id"),
        lambda: DD.minhash_candidate_pairs(warm, "text", "doc_id", num_hashes=32, num_bands=8),
        lambda: DD.simhash_pairs(warm, "text", "doc_id"),
        lambda: DD.jaccard_pairs(warm, "text", "doc_id", k=5, threshold=0.5),
    ):
        time_op(op)
    warm.unpersist()
    warm_names = synth_names(spark, 500).cache()
    warm_names.count()
    time_op(
        lambda: FZ.fuzzy_pairs(
            warm_names, "key", "name", block_col="block", max_dist=6, max_block_size=200
        )
    )
    warm_names.unpersist()
    warm_vecs = synth_vecs(spark, 500).cache()
    warm_vecs.count()
    time_op(
        lambda: SIM.embedding_near_dup_pairs(warm_vecs, threshold=0.9)
    )
    warm_vecs.unpersist()
    warm_g = synth_edges(spark, 500).cache()
    warm_g.count()
    for op in (
        lambda: G.connected_components(warm_g),
        lambda: G.pagerank_integer(warm_g, iterations=3),
        lambda: G.label_propagation(warm_g, rounds=2),
    ):
        time_op(op)
    warm_g.unpersist()
    warm_kg = synth_clique_edges(spark, 500).cache()
    warm_kg.count()
    time_op(lambda: G.triangle_count(warm_kg))
    warm_kg.unpersist()

    def run(res: dict, name: str, fn) -> None:
        # time AND shuffle-write bytes per op: bytes are the honest
        # cluster-scale signal (a narrow-pipe local shuffle hides cost)
        with harvest(spark, name) as h:
            res[name] = time_op(fn)
        res[f"{name}_shuffle_mb"] = round(h.totals()["shuffle_write_bytes"] / 1e6, 2)

    tiers = [("small", small), ("big", big)]
    if huge_tier:
        tiers.append(("huge", huge))
    results: dict[str, dict] = {}
    for label, n in tiers:
        res = results[label] = {"n_docs": n}
        docs = synth_docs(spark, n).cache()
        docs.count()  # materialize once; we time the operators, not synthesis
        run(res, "exact", lambda: DD.dedup_exact(docs, "text", "doc_id"))
        run(res, "minhash", lambda: DD.minhash_candidate_pairs(
            docs, "text", "doc_id", num_hashes=32, num_bands=8))
        run(res, "simhash", lambda: DD.simhash_pairs(docs, "text", "doc_id"))
        run(res, "jaccard", lambda: DD.jaccard_pairs(
            docs, "text", "doc_id", k=5, threshold=0.5))
        # prefix filtering emits candidates only from each doc's rarest
        # shingles — pair count tracks TRUE near-dups, so time/bytes
        # must scale with the corpus, not with postings^2; the posting
        # cap is armed (2000) but must not bind on this corpus
        run(res, "prefix_jaccard", lambda: DD.prefix_filtered_jaccard(
            docs, "text", "doc_id", 0.5,
            tokens=TX.shingles("text", 5), max_posting_len=2000))
        # span dedup reassembles EVERY doc, so cost is scan + 3
        # map-side-combined shuffles — must scale ~linearly like
        # whole-doc exact dedup, not with the duplicated-span count
        run(res, "span_dedup", lambda: CO.dedup_spans(docs, span_words=5))
        # posting build is one scan + one map-side-combined shuffle
        # of distinct (term, doc) pairs — linear in corpus size
        run(res, "inverted_index", lambda: CO.build_inverted_index(docs))
        run(res, "boiler_str", lambda: CO.boilerplate_ngrams(docs, n=5, top_k=20))
        docs.unpersist()
        # hot-bucket degradation: one identical-text bucket of ~n/3
        # members per band. Time must stay ~linear (sampled pairs are
        # ≤ size·cap/2, not size²/2) and every boilerplate member must
        # appear in ≥1 pair (recall 1.0 by the sub-bucket + anchor
        # chain construction — a dropped bucket would read 0.0 here).
        hotdocs = synth_boiler_docs(spark, n).cache()
        hotdocs.count()
        run(res, "minhash_hotbucket", lambda: DD.minhash_candidate_pairs(
            hotdocs, "text", "doc_id", num_hashes=32, num_bands=8))
        touched = (
            DD.minhash_candidate_pairs(
                hotdocs, "text", "doc_id", num_hashes=32, num_bands=8
            )
            .select(F.explode(F.array("id_a", "id_b")).alias("d"))
            .filter(F.col("d") % 3 == 0)
            .distinct()
            .count()
        )
        n_boiler = (n + 2) // 3
        res["hot_member_recall"] = round(touched / n_boiler, 3)
        hotdocs.unpersist()
        names = synth_names(spark, n).cache()
        names.count()
        run(res, "fuzzy", lambda: FZ.fuzzy_pairs(
            names, "key", "name", block_col="block", max_dist=6, max_block_size=200))
        names.unpersist()
        vecs = synth_vecs(spark, n).cache()
        vecs.count()
        run(res, "embed_neardup", lambda: SIM.embedding_near_dup_pairs(
            vecs, threshold=0.9, num_planes="auto"))
        # Gram matrix: per-batch int64 partial X^T X, d(d+1)/2-cell
        # reduce — time linear in n, shuffle bytes ~CONSTANT (cells
        # per task, never vectors)
        run(res, "gram_matrix", lambda: SIM.gram_matrix_int(
            vecs.select(F.col("embedding").cast("array<double>")
                        .alias("embedding"))))
        # recall over the PLANTED dup pairs (vec i duplicates i-1 when
        # i % 10 == 1): identical vectors collide in every table at any
        # plane count, so auto-planes must not cost planted recall —
        # only the bucket-cap degradation path could, and this audits it.
        pairs = SIM.embedding_near_dup_pairs(
            vecs, threshold=0.9, num_planes="auto"
        ).select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        planted = (
            spark.range(1, n, 10)
            .select((F.col("id") - 1).alias("id_a"), F.col("id").alias("id_b"))
        )
        n_planted = planted.count()
        found = planted.join(pairs, ["id_a", "id_b"], "left_semi").count()
        res["embed_dup_recall"] = round(found / max(n_planted, 1), 3)
        vecs.unpersist()
        # interval overlap: n intervals in n/20 key groups, width
        # ~bucket; candidate pairs stay near-linear because the join
        # is equi on (key, bucket), never an inequality nested loop
        iv = (
            spark.range(n)
            .select(
                (F.col("id") % (n // 20)).alias("k"),
                (F.col("id") * 37 % 100000).alias("a_s"),
                (F.col("id") * 37 % 100000 + 50 + F.col("id") % 100).alias("a_e"),
            )
            .cache()
        )
        iv.count()
        iv2 = iv.select(
            F.col("k"),
            F.col("a_s").alias("b_s"),
            F.col("a_e").alias("b_e"),
        )
        run(res, "interval_join", lambda: R.interval_join(
            iv,
            iv2,
            left_range=("a_s", "a_e"),
            right_range=("b_s", "b_e"),
            bucket_width=128,
            extra_keys=["k"],
        ))
        iv.unpersist()
        # iterative graph ops (CC / integer PageRank / sync LPA): the
        # synthetic graph's diameter is FIXED at 3 across tiers (see
        # synth_edges), so CC converges inside its flood probe and every
        # tier runs the same round count and per-edge bytes measure the
        # per-round linear cost — the claim q65/q131/q211 ride on at
        # 100 TB. The ops cut lineage with localCheckpoint internally;
        # those materialization jobs run in the op's job group, so
        # their shuffles count in its bytes.
        g = synth_edges(spark, n).cache()
        g.count()
        run(res, "graph_cc", lambda: G.connected_components(g))
        run(res, "graph_pagerank", lambda: G.pagerank_integer(
            g, iterations=3))
        run(res, "graph_lpa", lambda: G.label_propagation(g, rounds=2))
        g.unpersist()
        # wedge-join triangle counting on K4 clique blocks (degree 3
        # everywhere): exactly n triangles by construction, asserted —
        # and the quadratic-risk wedge intermediate must stay linear
        # for bounded degree (canonical lo<hi orientation)
        nk = n - n % 4  # K4 blocks need 4 | n; free-form CLI sizes don't
        kg = synth_clique_edges(spark, nk).cache()
        kg.count()
        run(res, "graph_triangles", lambda: G.triangle_count(kg))
        n_tri = G.triangle_count(kg).collect()[0][0]  # 1-row scalar probe
        if n_tri != nk:
            raise AssertionError(
                f"triangle_count drifted at n={nk}: {n_tri} (expect {nk})"
            )
        kg.unpersist()

    all_ops = ("exact", "span_dedup", "inverted_index", "minhash",
               "minhash_hotbucket", "simhash", "jaccard", "prefix_jaccard",
               "boiler_str", "fuzzy", "embed_neardup",
               "gram_matrix", "interval_join",
               "graph_cc", "graph_pagerank", "graph_lpa",
               "graph_triangles")
    scaling = {
        op: round(results["big"][op] / max(results["small"][op], 0.01), 1)
        for op in all_ops
        if op in results["big"]
    }
    # per-doc shuffle bytes per tier: the scale claim is a FLAT (or
    # gently bounded) per-doc curve, which normalization makes visible
    # where a raw ratio conflates data growth with plan drift
    per_doc = {
        label: {
            op: round(res[f"{op}_shuffle_mb"] * 1000 / res["n_docs"], 3)
            for op in all_ops
            if f"{op}_shuffle_mb" in res
        }
        for label, res in results.items()
    }
    payload = {
        "results": results,
        "size_ratio": big / small,
        "time_ratio": scaling,
        "shuffle_kb_per_doc": per_doc,
        "_notes": {
            "broadcast": "auto-broadcast joins are disabled for every "
            "tier: at 100 TB no build side here fits an executor, and "
            "leaving the 10 MB threshold on let small tiers skip "
            "exchanges the huge tier pays (round-5 'exact 1019x' was "
            "this — the small tier broadcast the keep-set, the huge "
            "tier shuffled the corpus; the operator's true curve is "
            "linear in corpus bytes).",
            "embed_neardup": "auto mode rebuckets signatures into "
            "exactly round(n/target) buckets (xxhash64(tbl,sig) mod B) "
            "on top of the ceil(log2(n/target)) plane count, so the "
            "expected bucket size — and with it candidate pairs/doc — "
            "is pinned AT the target at every tier instead of "
            "breathing within the power-of-two quantization band "
            "(round 6 measured 1.64 -> 3.67 kB/doc from that band).",
        },
    }
    if huge_tier:
        payload["size_ratio_huge"] = huge / small
        payload["time_ratio_huge"] = {
            op: round(results["huge"][op] / max(results["small"][op], 0.01), 1)
            for op in all_ops
            if op in results["huge"]
        }
        payload["shuffle_ratio_huge"] = {
            op: round(
                results["huge"][f"{op}_shuffle_mb"]
                / max(results["small"][f"{op}_shuffle_mb"], 0.01),
                1,
            )
            for op in all_ops
            if f"{op}_shuffle_mb" in results["huge"]
            and f"{op}_shuffle_mb" in results["small"]
        }
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_local.json",
    )
    with open(out, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
