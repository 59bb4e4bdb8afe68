"""Similarity search over embedding columns (array<float>).

Not present in the reference (SURVEY §2.7/§7 step 6) — added as the
engine's ANN surface for training-data pipelines:

- ``topk_lsh`` / ``embedding_near_dup_pairs``: the scale path. Random
  hyperplane LSH buckets corpus and queries; candidate set = bucket
  collisions (multi-probe via multiple tables); exact cosine re-rank on
  candidates only. Both sign through ONE kernel, ``_lsh_signatures_udf``:
  one Arrow-batched numpy matmul per batch against ±1 hyperplanes that
  are DETERMINISTIC (hashed from (table, plane, dim index)) —
  reproducible across runs, no side data to ship. The vector length is
  read from the batch; every vector must have the same length.
- ``nearest_centroid`` / IVF-style partitioning for repeated queries.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ingestao_dados_poli_spark.functions.vectors import cosine
from ingestao_dados_poli_spark.operators.dedup import (
    plain_bucket_pairs,
    salted_bucket_pairs,
)
from ingestao_dados_poli_spark.partitioning import fan_out


def _plane_signs(table: int, plane: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane coefficients — blake2b of
    (table, plane, dim index), stable across processes and runs."""
    import hashlib

    return [
        1.0
        if hashlib.blake2b(f"{table}:{plane}:{i}".encode(), digest_size=1).digest()[0] & 1 == 0
        else -1.0
        for i in range(dim)
    ]


@functools.lru_cache(maxsize=None)
def _plane_matrix(num_planes: int, num_tables: int, dim: int) -> np.ndarray:
    """(dim, tables·planes) ±1 hyperplane matrix, built once per process
    for each (planes, tables, dim)."""
    return np.array(
        [_plane_signs(t, p, dim) for t in range(num_tables) for p in range(num_planes)],
        dtype=np.float64,
    ).reshape(num_tables * num_planes, dim).T


def _lsh_signatures_udf(num_planes: int, num_tables: int):
    """Arrow-batched signature kernel: all tables' signatures in ONE
    numpy matmul per batch, as array<long> (one packed sign word per
    table).

    Spark's higher-order array functions (zip_with/aggregate) are
    interpreted per element — measured ~60 µs per plane-fold, which at
    num_tables×num_planes folds per row dwarfs the actual math. The
    batch matmul ((batch × dim) @ (dim × tables·planes)) plus a bit-pack
    is the same deterministic math at memory-bandwidth speed; Arrow
    moves the vectors without pickling. This is the documented 'Python
    is unavoidable → vectorized Pandas UDF, never per-row' escape hatch.

    ``dim`` is the batch's vector length (``_plane_matrix``). Vectors
    of unequal length within one batch cannot stack and raise.
    """
    from pyspark.sql.functions import pandas_udf

    weights = (np.ones(num_tables)[:, None] * (1 << np.arange(num_planes))[None, :]).astype(
        np.int64
    )  # bit weights per (table, plane)

    @pandas_udf("array<long>")
    def sigs(vs: pd.Series) -> pd.Series:
        # num_planes=0 is the DEGENERATE-EXACT mode: every row signs to
        # 0, one bucket per table, LSH recall becomes 1.0 by
        # construction — the configuration the oracle-twin queries use
        # to value-check the whole candidate→verify machinery against
        # brute force.
        v = np.vstack(vs.to_numpy())  # (n, dim)
        bits = (v @ _plane_matrix(num_planes, num_tables, v.shape[1])) > 0
        packed = (
            bits.reshape(len(v), num_tables, num_planes) * weights[None, :, :]
        ).sum(axis=2)  # (n, tables)
        return pd.Series(list(packed))

    return sigs


def topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 12,
    num_tables: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    max_bucket_size: int = 1000,
    score_round: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via multi-table hyperplane LSH.

    Corpus rows get ``num_tables`` signatures (explode → (table, sig,
    id)); queries likewise (broadcast). Candidates = signature equality
    in ANY table; exact cosine re-rank on the candidate set only. Recall
    tunes with num_tables; cost with num_planes. At 100 TB the bucket
    join replaces the full corpus × query product with collision groups.

    ``max_bucket_size`` bounds each corpus collision group by
    construction: only corpus rows whose (table, sig) matches SOME query
    signature (a broadcast semi-join — no corpus shuffle) flow into a
    groupBy that keeps the ``max_bucket_size`` lowest-id members of each
    bucket. A degenerate signature bucket (e.g. a mass of zero/near-zero
    vectors all hashing to sig 0) therefore contributes at most
    ``max_bucket_size`` candidates per query instead of the whole
    bucket. The shuffle introduced by the groupBy moves ONLY the rows
    that already collided with a query — the same rows the re-rank had
    to shuffle anyway.

    ``num_planes=0`` with ``num_tables=1`` and a ``max_bucket_size``
    above the corpus size is the DEGENERATE-EXACT configuration: every
    row lands in the single bucket, recall is 1.0 by construction, and
    the result equals exact brute-force top-k — the oracle-twin mode
    (the IVF analog is ``ivf_topk(nprobe=nlist)``). ``score_round``
    rounds the cosine BEFORE ranking so float noise can't flip ranks
    across engines.
    """
    sig_fn = _lsh_signatures_udf(num_planes, num_tables)

    def with_sigs(df, id_col, vec_col):
        return df.select(
            id_col, vec_col, F.posexplode(sig_fn(vec_col)).alias("tbl", "sig")
        )

    c = with_sigs(fan_out(corpus), corpus_id, corpus_vec)
    q = F.broadcast(with_sigs(queries, query_id, query_vec))
    # Keep only corpus rows that collide with some query bucket before
    # grouping — the semi-join is broadcast (no corpus shuffle), so the
    # capped groupBy shuffles candidates only, not the corpus.
    hit = c.join(q.select("tbl", "sig").dropDuplicates(), ["tbl", "sig"], "left_semi")
    # The cap is applied BEFORE the aggregation buffer builds: a
    # row_number window keeps the lowest-id max_bucket_size members per
    # bucket (WindowExec's sort buffer spills; collect_list's does not,
    # so slicing AFTER collect_list still materialized a whole
    # degenerate bucket in one task's memory). Identical output to the
    # former slice(array_sort(collect_list)) — ids are unique, so
    # struct order == id order — and the groupBy reuses the window's
    # exchange.
    bw = Window.partitionBy("tbl", "sig").orderBy(F.col(corpus_id).asc())
    capped = (
        hit.withColumn("_rn", F.row_number().over(bw))
        .filter(F.col("_rn") <= max_bucket_size)
        .groupBy("tbl", "sig")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(corpus_id, corpus_vec))
            ).alias("_docs")
        )
    )
    cands = (
        capped.join(q, ["tbl", "sig"])
        .select(F.explode("_docs").alias("_doc"), query_id, query_vec)
        .select(
            query_id,
            F.col(f"_doc.{corpus_id}").alias(corpus_id),
            F.col(f"_doc.{corpus_vec}").alias(corpus_vec),
            query_vec,
        )
        .dropDuplicates([query_id, corpus_id])
    )
    sim = cosine(F.col(corpus_vec), F.col(query_vec)).cast("double")
    if score_round is not None:
        sim = F.round(sim, score_round)
    scored = cands.select(query_id, corpus_id, sim.alias("cos_sim"))
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def auto_num_planes(
    n_rows: int,
    target_bucket_size: int = 32,
    min_planes: int = 8,
    max_planes: int = 24,
) -> int:
    """Plane count that keeps the EXPECTED LSH bucket size constant as
    the corpus grows: ceil(log2(n / target)), clamped. At a fixed plane
    count the bucket population — and with it the candidate-pair count —
    grows linearly with n, making the pair stage O(n²/2^planes): the
    500k-vector scale rung measured 1135x shuffle bytes at 100x data
    under fixed 12 planes. Scaling planes with log2(n) restores linear
    pair growth. The recall trade is negligible exactly where near-DUP
    detection operates: a pair at cos >= 0.95 has angle <= 18 deg, so
    per-plane collision prob >= 0.9 and each added plane costs < 10%
    per-table recall (offset by the multi-table OR) while HALVING random
    collisions."""
    import math

    return min(
        max_planes,
        max(min_planes, math.ceil(math.log2(max(n_rows / target_bucket_size, 2.0)))),
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int | str = 12,
    num_tables: int = 4,
    max_bucket_size: int = 500,
    score_round: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cos_sim) pairs above ``threshold`` — embedding-space
    near-duplicate detection. LSH self-collision candidates + exact
    verify; never materializes the full pair product.

    Candidates come from the same salted bucket-group pattern as
    ``dedup.minhash_candidate_pairs`` (``dedup.salted_bucket_pairs``:
    count window → salt in the group key → per-sub-bucket in-row pair
    expansion → anchor-chain stitch), NOT a sig×sig self-join: one
    shuffle, no whole-bucket aggregation buffer, and a degenerate
    signature bucket (e.g. a mass of zero/near-zero vectors all hashing
    to sig 0) degrades to linear sampled-but-connected pairs instead of
    emitting O(n²) — or (pre-round-5) being dropped outright, a silent
    recall hole exactly where embedding near-dups concentrate. Every
    emitted pair is exact-cosine-verified against ``threshold``, so
    degradation can never admit a false positive.

    ``num_planes=0, num_tables=1`` with ``max_bucket_size`` above the
    input size is the DEGENERATE-EXACT mode (recall 1.0: one bucket
    holds everything, candidates = all pairs) — the oracle-twin
    configuration; only sensible on a bounded slice, since it IS the
    quadratic all-pairs plan the production config exists to avoid.
    ``score_round`` rounds the cosine before the threshold test so the
    boundary is engine-stable.

    ``num_planes="auto"`` sizes the plane count from the corpus via
    ``auto_num_planes`` (one count() — a driver scalar, metadata-cheap
    on parquet) so candidate pairs stay LINEAR in n instead of
    quadratic at a fixed operating point, and additionally REBUCKETS
    the signatures into exactly ``round(n / target)`` buckets
    (``xxhash64(tbl, sig) mod B``): plane counts quantize bucket
    population to powers of two — the expected size breathes within a
    2x band between plane steps, which is exactly the 1.64 → 3.67
    kB/doc tier oscillation the round-6 scale artifact measured — while
    the mod pins it AT the target at every n. Same-sig rows always
    share a bucket, so the candidate set is a strict SUPERSET of the
    plain-plane candidates (recall can only go up); the merged-bucket
    extras are random, bounded by the constant bucket size, and
    rejected by the exact cosine verify like any other non-dup
    candidate. The production setting for unknown-size inputs; fixed
    counts remain for oracle-twin configs whose candidate sets must be
    reproducible independent of n.
    """
    rebucket: int | None = None
    if num_planes == "auto":
        n_rows = df.count()
        target = 32  # auto_num_planes' target_bucket_size default
        num_planes = auto_num_planes(n_rows, target_bucket_size=target)
        rebucket = max(1, int(round(n_rows / target)))
    # The cosine verify runs IN-ROW on the expanded pair, BEFORE the
    # cross-table dropDuplicates — its exchange then carries
    # (id_a, id_b, score) at ~28 B/pair instead of two riding vectors
    # (~0.5 KB/pair at dim 64). Measured at the 500k-vector scale rung:
    # the score-after-dedup ordering shuffled 40 GB (3744x the 5k-row
    # bytes); score-first is linear in pair count like the minhash and
    # simhash paths, which already scored pre-dedup. Duplicate pairs
    # from different tables carry identical scores, so dedup after
    # scoring returns the same rows.
    if num_planes == 0:
        # Degenerate-exact mode: every signature is trivially the
        # constant 0 (no planes → no bits), so the whole (pre-bounded)
        # corpus is ONE bucket per table. Three costs the production
        # path pays are pure overhead or actively harmful here: the
        # signature UDF (constant output); the salted count window; the
        # in-row score (a Generate runs inside its input row's task, so
        # the whole quadratic verify pins to ONE core); and — the dominant one,
        # measured — expanding pairs that CARRY the vectors (125k
        # nested-struct pairs × 2×64 doubles built serially in the
        # bucket's task). So: expand ID-ONLY pairs in-row (cheap slim
        # structs), let the dedup exchange spread them, then
        # broadcast-join the (bounded, ≤cap-row) vector table back
        # twice and cosine-verify in parallel post-exchange.
        # Measured 3.7 s → 2.0 s on q39 at sf0.1.
        id_pairs = (
            plain_bucket_pairs(
                fan_out(df).select(
                    F.col(id_col).alias("doc"),
                    F.explode(
                        F.array(*[F.lit(t) for t in range(num_tables)])
                    ).alias("tbl"),
                    F.lit(0).cast("long").alias("sig"),
                ),
                ["tbl", "sig"],
                "doc",
                max_bucket_size,
            )
            .select(
                F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        # norms ride the broadcast table (computed once per VECTOR, not
        # twice per PAIR — n vs n² norm folds), so the per-pair verify
        # is just the dot product. try_divide, not `/`: zero-norm rows
        # make the denominator 0, a runtime error under ANSI; NULL sim
        # fails the >= threshold filter, matching `cosine`'s contract.
        from ingestao_dados_poli_spark.functions.vectors import dot, norm

        vecs = df.select(
            F.col(id_col).alias("_vid"),
            F.col(vec_col).alias("_vv"),
            norm(F.col(vec_col)).alias("_vn"),
        )
        paired = (
            id_pairs.join(
                F.broadcast(vecs)
                .withColumnRenamed("_vv", "_va")
                .withColumnRenamed("_vn", "_na"),
                F.col("id_a") == F.col("_vid"),
            )
            .drop("_vid")
            .join(
                F.broadcast(vecs)
                .withColumnRenamed("_vv", "_vb")
                .withColumnRenamed("_vn", "_nb"),
                F.col("id_b") == F.col("_vid"),
            )
            .drop("_vid")
        )
        sim_post = F.try_divide(
            dot(F.col("_va"), F.col("_vb")), F.col("_na") * F.col("_nb")
        ).cast("double")
        if score_round is not None:
            sim_post = F.round(sim_post, score_round)
        return (
            paired.select("id_a", "id_b", sim_post.alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold)
        )
    # Production (probabilistic) mode: score IN-ROW before the
    # cross-table dedup — see the shuffle-bytes note above; the many
    # salted groups provide the parallelism the degenerate mode lacks.
    sigs = fan_out(df).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.posexplode(_lsh_signatures_udf(num_planes, num_tables)(vec_col)).alias(
            "tbl", "sig"
        ),
    )
    if rebucket is not None:
        # auto mode: pin the expected bucket size at the target exactly
        # (see docstring) — pmod keeps the key non-negative.
        sigs = sigs.withColumn(
            "sig", F.pmod(F.xxhash64("tbl", "sig"), F.lit(rebucket))
        )
    banded = sigs.select(F.struct("_id", "_v").alias("doc"), "tbl", "sig")
    sim = cosine(F.col("p.id_a._v"), F.col("p.id_b._v")).cast("double")
    if score_round is not None:
        sim = F.round(sim, score_round)
    return (
        salted_bucket_pairs(banded, ["tbl", "sig"], "doc", max_bucket_size)
        .select(
            F.col("p.id_a._id").alias("id_a"),
            F.col("p.id_b._id").alias("id_b"),
            sim.alias("cos_sim"),
        )
        # threshold BEFORE the cross-table dedup: the verify already ran
        # in-row, so the dedup exchange need only carry pairs that PASS
        # — candidates are ~bucket_size/2 per doc while true near-dups
        # are a handful, so this is the difference between a constant
        # ~2 kB/doc dedup shuffle and a near-zero one. Equivalent rows:
        # a pair seen from two tables carries the identical score, so
        # filter-then-dedup == dedup-then-filter.
        .filter(F.col("cos_sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def nearest_centroid(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
    score_round: int | None = None,
) -> DataFrame:
    """IVF-style coarse quantization: assign each vector to its nearest
    centroid (argmax cosine against a small broadcast-literal codebook);
    ties go to the lowest centroid index. Pre-partitioning a 100 TB
    corpus by centroid_id turns every later query into a
    partition-pruned scan of ~1/nlist of the data.

    ``score_round`` rounds scores before the argmax — use when the
    assignment must be reproducible across engines/float orders."""
    import math

    from ingestao_dados_poli_spark.functions.vectors import dot, norm

    # the vector's norm once (not per centroid); centroid norms are
    # plain Python constants folded into the plan.
    vnorm = norm(F.col(vec_col))
    best = None
    for ci, cvec in enumerate(centroids):
        lit_vec = F.array(*[F.lit(float(x)) for x in cvec])
        cnorm = math.sqrt(sum(x * x for x in cvec))
        score = dot(F.col(vec_col), lit_vec) / (vnorm * F.lit(cnorm))
        if score_round is not None:
            score = F.round(score, score_round)
        cand = F.struct(score.alias("s"), F.lit(ci).alias("c"))
        best = cand if best is None else F.when(cand["s"] > best["s"], cand).otherwise(best)
    return df.withColumn(out_col, best["c"])


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_cluster_size: int = 4000,
    score_round: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings by nearest centroid, find
    within-cluster pairs with cosine >= ``threshold``, take the
    transitive closure, keep one canonical member (min id) per
    duplicate group.

    Returns ``(id_col, centroid_id, component, kept)`` for every input
    row — ``kept`` is true for cluster representatives and all
    non-duplicated rows.

    Scale shape: centroid assignment is scan-side (broadcast-literal
    codebook); each cluster then runs ENTIRELY inside one
    ``applyInPandas`` group — the paper's pairwise-similarity matrix as
    a chunked numpy float64 gram matmul, and the transitive closure as
    an in-worker union-find. Similarity edges cannot cross centroid
    clusters by construction, so the closure is cluster-local: ONE
    shuffle total, no iterative component-flooding jobs (the exploded
    per-pair + distributed-CC formulation measured 8-20× slower on
    2k×64-dim vectors — interpreted ~60 µs cosine folds plus a Spark
    job per flooding round). Clusters larger than ``max_cluster_size``
    are left un-deduped (every member kept) rather than going quadratic
    — at 100 TB use more centroids so clusters stay bounded, or run
    embedding_near_dup_pairs (LSH) inside huge clusters; use
    graph.connected_components when edges DO span groups. Zero-norm
    vectors score 0.0 against everything (never NaN)."""
    assigned = nearest_centroid(
        df, centroids, vec_col=vec_col, score_round=score_round
    ).select(F.col(id_col), F.col(vec_col), "centroid_id")

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, centroid_id int, component {id_type}, kept boolean"
    )

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        cid = pdf["centroid_id"].to_numpy()[order]
        parent = np.arange(n)

        def find(i: int) -> int:
            root = i
            while parent[root] != root:
                root = parent[root]
            while parent[i] != root:  # path compression
                parent[i], i = root, parent[i]
            return root

        if 2 <= n <= max_cluster_size:
            v = np.vstack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
            norms = np.linalg.norm(v, axis=1)
            norms[norms == 0.0] = np.inf  # zero vectors → cos 0, not NaN
            vn = v / norms[:, None]
            for i0 in range(0, n, 1024):  # bound the gram block to 1024×n
                block = vn[i0 : i0 + 1024] @ vn.T  # (b, n) float64
                if score_round is not None:
                    block = np.round(block, score_round)
                rows, cols = np.nonzero(block >= threshold)
                keep = (rows + i0) < cols  # upper triangle only
                for a, b in zip(rows[keep] + i0, cols[keep]):
                    ra, rb = find(a), find(b)
                    if ra != rb:  # union by min index == min id (ids sorted)
                        parent[max(ra, rb)] = min(ra, rb)
        roots = np.array([find(i) for i in range(n)])
        return pd.DataFrame(
            {
                id_col: ids,
                "centroid_id": cid,
                "component": ids[roots],
                "kept": roots == np.arange(n),
            }
        )

    return assigned.groupBy("centroid_id").applyInPandas(dedup_cluster, out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 1,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    score_round: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN search: probe the ``nprobe`` nearest
    centroid partitions per query, brute-force cosine only inside them.

    Scale shape: the corpus is assigned scan-side (broadcast-literal
    codebook, no shuffle) and joined to the probe list with
    ``broadcast(queries)`` — so the big side never shuffles and only
    ~nprobe/nlist of it is scored per query. At 100 TB the corpus would
    be WRITTEN partitioned by centroid_id (see nearest_centroid), making
    the probe join a partition-pruned scan. ``nprobe == len(centroids)``
    degrades gracefully to exact brute force (the oracle case);
    recall/cost tunes with nprobe exactly like FAISS IVF.

    Tie rules match nearest_centroid: equal probe scores
    go to the lowest centroid index, equal cosine to the lowest
    corpus id. ``score_round`` rounds the final cosine (engine parity).
    """
    assigned = nearest_centroid(
        corpus, centroids, vec_col=corpus_vec, score_round=score_round
    ).select(corpus_id, corpus_vec, "centroid_id")
    return ivf_topk_assigned(
        assigned,
        queries,
        centroids,
        k=k,
        nprobe=nprobe,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
        query_id=query_id,
        query_vec=query_vec,
        score_round=score_round,
    )


def ivf_topk_assigned(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 1,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    score_round: int | None = None,
) -> DataFrame:
    """`ivf_topk` over a corpus whose ``centroid_id`` is ALREADY
    materialized — the search path of a persisted index
    (`ivf_index_ingest`/`ivf_index_read`): assignment cost was paid
    once at ingest, and when the index is stored partitioned by
    centroid_id the probe join prunes partitions instead of scanning
    the corpus."""
    import math

    from ingestao_dados_poli_spark.functions.vectors import dot, norm

    # Per-query probe list: struct(-score, centroid_id) sorts ascending =
    # best-score-first with lowest-index tie-break; slice the top nprobe.
    qnorm = norm(F.col(query_vec))
    probe_structs = []
    for ci, cvec in enumerate(centroids):
        lit_vec = F.array(*[F.lit(float(x)) for x in cvec])
        cnorm = math.sqrt(sum(x * x for x in cvec))
        score = dot(F.col(query_vec), lit_vec) / (qnorm * F.lit(cnorm))
        if score_round is not None:
            score = F.round(score, score_round)
        probe_structs.append(
            F.struct((-score).alias("neg"), F.lit(ci).alias("centroid_id"))
        )
    probes = queries.select(
        F.col(query_id),
        F.col(query_vec),
        F.explode(
            F.slice(F.array_sort(F.array(*probe_structs)), 1, nprobe)
        ).alias("_p"),
    ).select(query_id, query_vec, F.col("_p.centroid_id").alias("centroid_id"))

    scored = assigned.join(F.broadcast(probes), "centroid_id").select(
        F.col(query_id),
        F.col(corpus_id),
        cosine(F.col(corpus_vec), F.col(query_vec)).cast("double").alias("cos_sim"),
    )
    if score_round is not None:
        scored = scored.withColumn("cos_sim", F.round("cos_sim", score_round))
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def l2_normalize_arrow(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-row L2 norm + unit vector via ``mapInArrow`` — the zero-copy
    lane below even Pandas UDFs: each Arrow batch's list column is
    consumed as raw (values, offsets) numpy views, squared sums come
    from one ``np.add.reduceat`` over the flat buffer, and the unit
    vectors are rebuilt as a ListArray around the SAME offsets — no
    pandas objects, no per-row Python, no pickling. Returns
    ``(id, norm double, unit array<double>)``; zero vectors keep
    norm 0 with an all-zero unit vector (no NaN poison downstream).

    Scale shape: embarrassingly parallel map over scan batches — no
    shuffle, no state; cost is one memory-bandwidth pass per batch.
    Assumes a non-null ``vec_col`` (enforce upstream with a quality
    suite rule); a null embedding would shift the offsets silently.
    """
    import pyarrow as pa

    def batches(it):
        for batch in it:
            ids = batch.column(id_col)
            emb = batch.column(vec_col)
            offs = emb.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            if len(offs) < 2:
                continue
            # .values spans the WHOLE child buffer even for sliced
            # arrays; rebase offsets so row i is flat[offs[i]:offs[i+1]].
            lo, hi = offs[0], offs[-1]
            flat = (
                emb.values.to_numpy(zero_copy_only=False)[lo:hi].astype(np.float64)
            )
            offs = offs - lo
            lens = np.diff(offs)
            sums = (
                np.add.reduceat(flat * flat, offs[:-1])
                if len(flat)
                else np.zeros(len(lens))
            )
            # reduceat quirk: a zero-length row returns the element AT
            # its start index instead of an empty sum.
            sums = np.where(lens == 0, 0.0, sums)
            norms = np.sqrt(sums)
            denom = np.where(norms == 0.0, 1.0, norms)
            unit = flat / np.repeat(denom, lens)
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(norms, type=pa.float64()),
                    pa.ListArray.from_arrays(
                        pa.array(offs, type=pa.int32()),
                        pa.array(unit, type=pa.float64()),
                    ),
                ],
                names=[id_col, "norm", "unit"],
            )

    return df.select(id_col, vec_col).mapInArrow(
        batches, f"{id_col} long, norm double, unit array<double>"
    )


def ivf_index_ingest(
    spark,
    batch: DataFrame,
    centroids: list[list[float]],
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_round: int | None = None,
) -> int:
    """One ingest step of a persisted IVF index: assign the batch to
    the FIXED codebook scan-side and publish (id, vector, centroid_id)
    as the index's next DELTA snapshot, hive-partitioned by
    centroid_id. Per-ingest cost is |batch| — existing index files are
    never rewritten, and no re-clustering happens (the codebook is the
    index's stable contract; re-train → new index path). Same
    delta-store lifecycle as the dedup fingerprint store
    (`operators/dedup.py:dedup_ingest_batch`), with the same atomic
    commit + idempotent re-ingest semantics."""
    from ingestao_dados_poli_spark.sources import versioned

    assigned = nearest_centroid(
        batch, centroids, vec_col=vec_col, score_round=score_round
    ).select(id_col, vec_col, "centroid_id")
    return versioned.publish(
        spark, assigned, index_path, partition_by=["centroid_id"]
    )


def ivf_index_read(
    spark,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Union of the committed index deltas — the full assigned corpus.
    One multi-directory parquet scan; filters on centroid_id prune the
    hive partition dirs of every delta."""
    from functools import reduce

    from ingestao_dados_poli_spark.sources import versioned

    versions = versioned.committed_versions(spark, index_path)
    if not versions:
        raise FileNotFoundError(f"no committed index under {index_path}")
    # one read PER delta, each with its own basePath: a single
    # multi-path read would try to unify partition discovery across
    # version roots (v=N and centroid_id both look like partitions)
    # and refuse. Union of scans stays one stage — no shuffle.
    deltas = [
        spark.read.option("basePath", f"{index_path}/v={v}")
        .parquet(f"{index_path}/v={v}")
        .select(id_col, vec_col, "centroid_id")
        for v in versions
    ]
    return reduce(lambda a, b: a.unionByName(b), deltas)


def ivf_index_search(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 1,
    score_round: int | None = None,
    **name_cols,
) -> DataFrame:
    """Search the persisted index: read committed deltas, probe the
    nprobe nearest partitions per query, score only inside them.
    Results are IDENTICAL to searching a freshly-built index over the
    same vectors — assignment is a pure function of (vector, codebook),
    so batch boundaries can't change any centroid_id (pinned in
    test_similarity_ivf)."""
    assigned = ivf_index_read(
        spark,
        index_path,
        id_col=name_cols.get("corpus_id", "vec_id"),
        vec_col=name_cols.get("corpus_vec", "embedding"),
    )
    return ivf_topk_assigned(
        assigned, queries, centroids, k=k, nprobe=nprobe,
        score_round=score_round, **name_cols,
    )


def quantize_embedding(vec_col: str, scale: int = 1000) -> "Column":
    """Integer-grid quantization of a float embedding: shift to
    non-negative and floor onto a 1/scale lattice. Every downstream
    distance is then EXACT bigint arithmetic — bit-identical across
    engines, executors, and replays — which is what makes an
    iterative clustering loop value-hashable at all. The shift (+1.0
    before scaling) keeps truncating integer division equal to floor
    division for centroid means."""
    from pyspark.sql import functions as F

    return F.expr(
        f"transform({vec_col},"
        f" x -> CAST(floor((x + 1.0d) * {scale}) AS BIGINT))"
    )


def lloyd_quantized(
    df: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """Distributed Lloyd's k-means over integer-quantized embeddings —
    the corpus-clustering primitive (topic balancing, stratified
    curation) in the exact-arithmetic regime: assignments and centroid
    updates are all bigint, so `iters` rounds produce ONE deterministic
    answer (ties broken by smallest centroid id; centroid means via
    truncating div, exact because the quantized grid is non-negative).

    Returns the final assignment: (id, cluster, dist).

    Scale shape per round: centroids are a k-row DataFrame BROADCAST
    to every executor (k*dim*8 bytes — KBs), assignment is one in-row
    zip_with fold per (vector, centroid) with a row_number argmin —
    no shuffle wider than k rows per vector — and the update is one
    map-side-combined (cluster, dim) agg: k*dim result rows, however
    many input vectors. Nothing ever collects to the driver; the loop
    is plan-chaining, so Catalyst sees one DAG. Initial centroids are
    the k smallest ids (deterministic seeding; at real scale seed from
    a hash-sampled k rows instead)."""
    from pyspark.sql import Window as W

    emb = df.select(
        F.col(id_col), quantize_embedding(vec_col, scale).alias("qv")
    )
    cents = emb.orderBy(id_col).limit(k).select(
        F.col(id_col).alias("cid"), F.col("qv").alias("cv")
    )
    dist = (
        "aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, x) -> acc + x)"
    )

    def assign(points, centroids):
        return (
            points.crossJoin(F.broadcast(centroids))
            .withColumn("dist", F.expr(dist))
            .withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy(id_col).orderBy("dist", "cid")
                ),
            )
            .where(F.col("rn") == 1)
        )

    for _ in range(iters):
        assigned = assign(emb, cents).select(id_col, "qv", "cid")
        cents = (
            assigned.select("cid", F.posexplode("qv").alias("d", "x"))
            .groupBy("cid", "d")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("c"))
            .groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("d", F.expr("s div c").alias("v")))
                ).alias("pairs")
            )
            .select("cid", F.expr("transform(pairs, p -> p.v)").alias("cv"))
        )
    return assign(emb, cents).select(
        id_col, F.col("cid").alias("cluster"), "dist"
    )


def negative_samples(
    df: DataFrame,
    *,
    k: int = 3,
    per_label: int = 8,
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: every
    row (anchor) draws ``k`` negatives from a stratified pool of
    ``per_label`` candidates per class, ranked per anchor by an
    md5-derived pseudo-random key — so the draw is uniform-ish,
    reproducible bit-for-bit across engines/replays (no RNG state),
    and never picks the anchor's own class. Returns
    (anchor id, anchor label, slot 1..k, negative id, negative label).

    Scale shape: the pool is one bounded window (per_label rows per
    class — KBs for any real label space) collapsed to a ONE-ROW
    array and broadcast; each anchor then filters/ranks the pool
    entirely IN-ROW (cost |classes|*per_label per anchor, a constant)
    and explodes its k picks. The anchors never shuffle; the only
    exchange is the pool's own tiny aggregation. This is the
    in-batch-negatives regime, distributed.
    """
    h = (
        "cast(conv(substring(md5(concat(cast({a} as string), '|',"
        " cast({b} as string))), 1, 15), 16, 10) as bigint)"
    )
    pool_w = Window.partitionBy(label_col).orderBy(
        F.expr(
            "cast(conv(substring(md5(cast("
            + id_col
            + " as string)), 1, 15), 16, 10) as bigint)"
        ),
        F.col(id_col),
    )
    pool = (
        df.select(label_col, id_col)
        .withColumn("_rn", F.row_number().over(pool_w))
        .where(F.col("_rn") <= per_label)
    )
    pools = pool.groupBy().agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(label_col).alias("pl"), F.col(id_col).alias("pid")
                )
            )
        ).alias("_pool")
    )
    picks = F.expr(
        "slice(array_sort(transform("
        f"  filter(_pool, p -> p.pl != {label_col}),"
        "  p -> struct("
        + h.format(a=id_col, b="p.pid")
        + " as h, p.pid as pid, p.pl as pl)"
        f")), 1, {k})"
    )
    return (
        df.select(id_col, label_col)
        .crossJoin(F.broadcast(pools))
        .select(
            F.col(id_col).alias("anchor_id"),
            F.col(label_col).alias("anchor_label"),
            F.posexplode(picks).alias("slot0", "neg"),
        )
        .select(
            "anchor_id",
            "anchor_label",
            (F.col("slot0") + 1).cast("long").alias("slot"),
            F.col("neg.pid").alias("neg_id"),
            F.col("neg.pl").alias("neg_label"),
        )
    )


def _srp_signs(out_dims: int, in_dim: int) -> list:
    """The +-1 projection matrix, derived from md5 so ANY engine can
    re-derive the identical matrix from (i, j) alone: sign(i,j) = +1
    iff the low bits of md5('i_j') are even. Computed once driver-side
    (out_dims x in_dim ints, a literal in the plan) instead of 1024
    md5 calls per ROW — same values, scan-speed scoring."""
    import hashlib

    signs = []
    for j in range(1, out_dims + 1):
        row = []
        for i in range(1, in_dim + 1):
            d = hashlib.md5(f"{i}_{j}".encode()).hexdigest()
            row.append(1 if int(d[:15], 16) % 2 == 0 else -1)
        signs.append(row)
    return signs


def srp_reduce(
    df: DataFrame,
    *,
    out_dims: int = 16,
    in_dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> DataFrame:
    """Signed-random-projection (Johnson-Lindenstrauss) dimensionality
    reduction over integer-quantized embeddings: reduced[j] =
    sum_i sign(i,j) * q[i] with the md5-derived +-1 matrix from
    `_srp_signs` — exact bigint end-to-end, so reduced vectors (and
    every downstream distance) are bit-identical across engines. The
    4x-8x shorter vectors are the cheap first pass of a two-stage ANN
    (reduced-space candidate scan, exact re-rank) — at 100 TB the
    reduction is a pure in-row transform at scan speed (the matrix is
    a plan literal, ~KB), touching no shuffle at all.

    Returns (id, rv: array<bigint> of length ``out_dims``).
    """
    signs = _srp_signs(out_dims, in_dim)
    qv = quantize_embedding(vec_col, scale)
    mat = F.array(*[F.array(*[F.lit(s) for s in row]) for row in signs])
    return df.select(
        F.col(id_col), qv.alias("_qv"), mat.alias("_mat")
    ).select(
        id_col,
        F.expr(
            "transform(_mat, row ->"
            " aggregate(zip_with(row, _qv, (s, x) -> s * CAST(x AS BIGINT)),"
            " 0L, (acc, v) -> acc + v))"
        ).alias("rv"),
    )


def gram_matrix_int(
    df: DataFrame, vec_col: str = "embedding", quantum: int = 1_000_000
) -> DataFrame:
    """Exact integer Gram matrix X^T X of an embedding column — the
    covariance-structure primitive under PCA/whitening/low-rank
    probes, computed the way a 100 TB pipeline must: each Arrow batch
    contributes a PARTIAL d x d Gram via one vectorized int64 matmul
    (numpy, C-speed — the d² work per row never touches Python row
    loops), partials reduce with one map-side-combined groupBy on the
    (i, j) cell key. Components quantize to integers first
    (floor(x*quantum + 0.5), the q142 half-up trick), so partial sums
    are EXACT and reduction order cannot change a bit — float
    accumulation would make the result partitioning-dependent.
    Returns upper-triangle cells (i, j, gram), 1-indexed,
    d(d+1)/2 rows."""

    def part(batches):
        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            qm = np.floor(m * quantum + 0.5).astype("int64")
            g = qm.T @ qm
            acc = g if acc is None else acc + g
        if acc is not None:
            iu = np.triu_indices(acc.shape[0])
            yield pd.DataFrame(
                {
                    "i": (iu[0] + 1).astype("int32"),
                    "j": (iu[1] + 1).astype("int32"),
                    "v": acc[iu],
                }
            )

    out = df.select(vec_col).mapInPandas(part, "i int, j int, v long")
    return out.groupBy("i", "j").agg(
        F.sum("v").cast("long").alias("gram")
    )


def grid_density_clusters(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    width: int,
    min_pts: int,
    planes: tuple = ((17, 7, 3), (29, 11, 5)),
    quantum: int = 1_000_000,
    dim: int = 64,
) -> DataFrame:
    """DBSCAN-lite grid-density clustering: project vectors onto two
    DETERMINISTIC integer hyperplanes (coefficient j of plane
    (mul, mod, shift) is ``((j*mul) % mod) - shift`` — literal
    congruence arithmetic, no RNG, identical in any engine), land in
    integer grid cells of ``width``, call cells with >= ``min_pts``
    points core, and merge 8-adjacent core cells into clusters via
    connected components. Returns one row per cluster
    (cluster = min cell id, n_cells, n_points) plus a noise row
    (cluster = -1) aggregating all sparse cells — the density-based
    counterpart to centroid k-means that finds arbitrary-shaped blobs
    and refuses to force noise into them.

    Exactness: quantized components, integer dot products and
    truncating grid division keep everything before the CC
    bit-identical cross-engine. Scale shape: projections are
    scan-side; ONE map-side-combined groupBy bounds every downstream
    step by occupied-cell count; adjacency is a 9-offset equi-join on
    cell coordinates — a point-level pair join never exists."""
    from ingestao_dados_poli_spark.operators import graph as _G

    q = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * F.lit(float(quantum)) + F.lit(0.5)).cast(
            "long"
        ),
    )

    def proj(mul, mod, shift):
        plane = F.array(
            *[F.lit(((j * mul) % mod) - shift) for j in range(1, dim + 1)]
        )
        return F.aggregate(
            F.zip_with(q, plane, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    (m1, o1, s1), (m2, o2, s2) = planes
    pts = df.select(
        proj(m1, o1, s1).alias("p1"), proj(m2, o2, s2).alias("p2")
    ).select(
        F.expr(f"p1 div {width}").alias("gx"),
        F.expr(f"p2 div {width}").alias("gy"),
    )
    cells = pts.groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("n"))
    dense = cells.filter(F.col("n") >= min_pts).withColumn(
        "cid", (F.col("gx") + 100) * 1000 + (F.col("gy") + 100)
    )
    offs = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
                if not (dx == 0 and dy == 0)
            ]
        )
    )
    nb = dense.select("cid", "gx", "gy", offs.alias("o")).select(
        F.col("cid").alias("src"),
        (F.col("gx") + F.col("o.dx")).alias("ngx"),
        (F.col("gy") + F.col("o.dy")).alias("ngy"),
    )
    edges = nb.join(
        dense.select(
            F.col("cid").alias("dst"),
            F.col("gx").alias("ngx"),
            F.col("gy").alias("ngy"),
        ),
        ["ngx", "ngy"],
    ).select("src", "dst")
    comp = _G.connected_components(
        edges, nodes=dense.select(F.col("cid").alias("node"))
    )
    clusters = (
        comp.join(dense, comp.node == dense.cid)
        .groupBy(F.col("component").cast("long").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("n").cast("long").alias("n_points"),
        )
    )
    noise = cells.filter(F.col("n") < min_pts).agg(
        F.lit(-1).cast("long").alias("cluster"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_points"),
    )
    return clusters.unionByName(noise)
