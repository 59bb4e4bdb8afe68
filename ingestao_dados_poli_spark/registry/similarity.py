"""Similarity/dedup registry: MinHash/SimHash/Jaccard LSH, embedding
ANN and IVF index lifecycle, fuzzy matching, dedup clustering and
graph analytics.

Split out of the former monolithic queries.py (round 5) — every
block is verbatim; registration happens via the shared `q` decorator
from `._base`, so importing this module populates QUERIES/ORACLES.
"""

from ingestao_dados_poli_spark.registry._base import *  # noqa: F401,F403



@q(
    "q23_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def q23_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content fingerprint (dedup key) — md5 agrees
    byte-for-byte between Spark and DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint("text").alias("fp"))



@q(
    "q24_dedup_exact",
    """
    SELECT min(doc_id) AS doc_id
    FROM documents
    GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    """,
)
def q24_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return DD.dedup_exact(docs, "text", "doc_id").select("doc_id")



# ------------------------------------------------- 12. embeddings / ANN

@q(
    "q26_embedding_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 3),
         scored AS (
           SELECT q.query_id, c.vec_id,
                  round(list_cosine_similarity(c.embedding::DOUBLE[], q.qv), 6) AS cos_sim
           FROM embeddings c CROSS JOIN q)
    SELECT query_id, vec_id, CAST(cos_sim AS DOUBLE) AS cos_sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, vec_id ASC) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def q26_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (exact ANN baseline). Ranks by the
    6-dp-ROUNDED similarity so float noise can't flip ranks vs DuckDB."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    scored = emb.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "vec_id",
        F.round(cosine("embedding", "query_vec"), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5).drop("rn")



@q(
    "q27_minhash_pairs",
    """
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
         u AS (SELECT doc_id, text FROM base
               UNION ALL
               SELECT doc_id + 100000 AS doc_id, text FROM base WHERE doc_id < 100),
         g AS (SELECT doc_id,
                      md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS key
               FROM u)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(1.0 AS DOUBLE) AS est_jaccard
    FROM g a JOIN g b ON a.key = b.key AND a.doc_id < b.doc_id
    """,
)
def q27_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH through the FULL production banded pipeline (fused
    token-hash → rolling-shingle → permutation-min kernel, band
    explode, (band, bucket) shuffle, in-row pair expansion,
    positional-agreement estimator), value-checked on its PROVABLE
    subset: identical-normalized-text pairs MUST appear among the
    candidates (identical text ⟹ identical signature ⟹ collision in
    every band — recall 1.0 by pigeonhole, no probability involved)
    with est_jaccard exactly 1.0 (all 32 minima agree). The query
    unions a shifted copy of the first 100 docs to make that subset
    non-empty, then keeps candidate pairs whose md5 fingerprints
    match; the DuckDB twin is the brute-force md5 self-join. A dropped
    identical pair (bucketing bug) fails on rows, a wrong estimator
    (kernel bug) fails on values. The probabilistic near-dup
    candidates this filter discards are recall-tested in
    `tests/test_text_dedup.py` (an est==1.0 oracle is NOT sound here:
    the corpus has J≈0.989 non-identical pairs, which tie all 32
    minima with P≈0.7)."""
    from ingestao_dados_poli_spark.functions.text import fingerprint

    base = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500).select(
        "doc_id", "text"
    )
    copies = base.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    u = base.unionByName(copies)
    fp = u.select(F.col("doc_id"), fingerprint("text").alias("_fp"))
    pairs = DD.minhash_candidate_pairs(
        u, "text", "doc_id", num_hashes=32, num_bands=8, k=5
    )
    return (
        pairs.join(
            fp.select(F.col("doc_id").alias("id_a"), F.col("_fp").alias("_fa")),
            "id_a",
        )
        .join(
            fp.select(F.col("doc_id").alias("id_b"), F.col("_fp").alias("_fb")),
            "id_b",
        )
        .filter(F.col("_fa") == F.col("_fb"))
        .select("id_a", "id_b", "est_jaccard")
    )



@q(
    "q28_simhash_pairs",
    """
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
         u AS (SELECT doc_id, text FROM base
               UNION ALL
               SELECT doc_id + 100000 AS doc_id, text FROM base WHERE doc_id < 100),
         g AS (SELECT doc_id,
                      md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS key
               FROM u)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(0 AS INT) AS hamming
    FROM g a JOIN g b ON a.key = b.key AND a.doc_id < b.doc_id
    """,
)
def q28_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash through the full Manku chunk-bucket pipeline at its
    production operating point (max_hamming=3, 4 pigeonhole chunks),
    value-checked on its PROVABLE subset: identical-normalized-text
    pairs MUST be found (identical text ⟹ identical 63-bit signature
    ⟹ hamming 0 ⟹ every chunk collides) with hamming exactly 0.
    Shifted copies of the first 100 docs make that subset non-empty;
    candidates are filtered to md5-equal pairs; the DuckDB twin is the
    brute-force md5 self-join. A dropped pair (chunk-bucket bug) fails
    on rows, a wrong signature kernel fails the hamming value. The
    probabilistic hamming-1..3 near-dup pairs the filter discards are
    recall-tested in `tests/test_text_dedup.py` (an identical-multiset
    oracle at max_hamming=0 is NOT sound: the corpus has near-dup
    pairs whose 63 bit-balances all keep their sign)."""
    from ingestao_dados_poli_spark.functions.text import fingerprint

    base = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500).select(
        "doc_id", "text"
    )
    copies = base.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    u = base.unionByName(copies)
    fp = u.select(F.col("doc_id"), fingerprint("text").alias("_fp"))
    pairs = DD.simhash_pairs(u, "text", "doc_id", max_hamming=3)
    return (
        pairs.join(
            fp.select(F.col("doc_id").alias("id_a"), F.col("_fp").alias("_fa")),
            "id_a",
        )
        .join(
            fp.select(F.col("doc_id").alias("id_b"), F.col("_fp").alias("_fb")),
            "id_b",
        )
        .filter(F.col("_fa") == F.col("_fb"))
        .select("id_a", "id_b", "hamming")
    )



@q(
    "q29_jaccard_pairs",
    """
    WITH u AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
    """
    + _SHINGLE5_SQL
    + """,
         ex AS (SELECT doc_id, len(ss) AS n, unnest(ss) AS s FROM sh),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          any_value(a.n) AS na, any_value(b.n) AS nb,
                          count(*) AS i
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
    SELECT id_a, id_b, jaccard FROM (
      SELECT id_a, id_b,
             CAST(round(CAST(i AS DOUBLE) / (na + nb - i), 6) AS DOUBLE) AS jaccard
      FROM inter)
    WHERE jaccard >= 0.3
    """,
)
def q29_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard via the inverted shingle index — unlike the
    probabilistic LSH queries this algorithm is exact by nature, so the
    oracle needs no degenerate trick: it only needs the posting cap to
    be lossless, guaranteed by bounding the slice to 500 docs with
    ``max_posting_len=600`` (a posting can never exceed the doc count;
    the corpus's real max posting is 3). The DuckDB twin builds string
    5-shingle sets and brute-force joins them; the engine side works
    on xxhash64'd shingles (8-byte postings instead of ~40-byte
    strings — the 100 TB shuffle argument), so the value hash also
    certifies hash-vs-string shingle identity on this corpus. Jaccard
    rounded to 6 dp on both engines."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    # inner threshold slightly below the advertised one so the 6-dp
    # ROUNDED filter decides the boundary identically on both engines
    pairs = DD.jaccard_pairs(
        docs, "text", "doc_id", k=5, threshold=0.29, max_posting_len=600
    )
    return pairs.withColumn("jaccard", F.round("jaccard", 6)).filter(
        F.col("jaccard") >= 0.3
    )


@q(
    "q47_centroid_assign",
    f"""
    WITH scored AS (
        SELECT vec_id, [{_CENTROID_SQL}] AS cs FROM embeddings)
    SELECT CASE WHEN cs[1] >= cs[2] AND cs[1] >= cs[3] AND cs[1] >= cs[4] THEN 0
                WHEN cs[2] >= cs[3] AND cs[2] >= cs[4] THEN 1
                WHEN cs[3] >= cs[4] THEN 2
                ELSE 3 END AS centroid_id,
           count(*) AS n_vectors
    FROM scored GROUP BY 1
    """,
)
def q47_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: population of each centroid's partition.
    Scores are rounded to 6 dp on BOTH engines so the argmax (lowest
    index wins ties) is float-order independent."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    assigned = SIM.nearest_centroid(emb, _CENTROIDS, score_round=6)
    return assigned.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n_vectors"))



# ------------------------- 24. rows-only LSH / media (non-SQL-expressible)

@q(
    "q39_embedding_sim_pairs",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id < 500)
    SELECT id_a, id_b, cos_sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(round(list_cosine_similarity(a.v, b.v), 6) AS DOUBLE) AS cos_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
    WHERE cos_sim >= 0.3
    """,
)
def q39_embedding_sim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup pairs through the FULL LSH machinery
    (signature UDF → bucket groupBy → in-row pair expansion → cosine
    verify) in its degenerate-exact configuration: ``num_planes=0,
    num_tables=1`` puts every vector in one bucket, so recall is 1.0
    by construction and the result is value-hash-checkable against a
    DuckDB brute-force pair join (list_cosine_similarity). Bounded to
    vec_id < 500 because this mode IS the quadratic all-pairs plan;
    the production (probabilistic-recall, bucketed) configuration of
    the same operator is exercised by `tests/test_similarity_multimodal.py`.
    Cosine rounded to 6 dp on both engines so the threshold boundary
    can't flip on float noise. The corpus has no true near-dups (max
    pairwise cosine ≈0.46), so threshold 0.3 keeps the verify path
    non-empty."""
    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 500)
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    return SIM.embedding_near_dup_pairs(
        emb,
        threshold=0.3,
        num_planes=0,
        num_tables=1,
        max_bucket_size=600,
        score_round=6,
    )



@q(
    "q30_embedding_lsh_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 3),
         scored AS (
           SELECT q.query_id, c.vec_id,
                  round(list_cosine_similarity(c.embedding::DOUBLE[], q.qv), 6) AS cos_sim
           FROM embeddings c CROSS JOIN q)
    SELECT query_id, vec_id, CAST(cos_sim AS DOUBLE) AS cos_sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, vec_id ASC) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def q30_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed top-k through the FULL scale-path machinery
    (signatures → broadcast semi-join → capped bucket groupBy →
    re-rank) in its degenerate-exact configuration: ``num_planes=0,
    num_tables=1`` collides everything, so the candidate set is the
    whole corpus and the result provably equals brute force — the same
    nprobe=nlist trick that oracles IVF in q76. The DuckDB twin is the
    q26 brute-force top-k; the two queries agreeing on the same hash
    is the point (different physical plans, one answer). Probabilistic
    configs of the same operator are recall-tested in
    `tests/test_similarity_multimodal.py`."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return SIM.topk_lsh(
        emb,
        queries,
        k=5,
        num_planes=0,
        num_tables=1,
        max_bucket_size=1_000_000,
        score_round=6,
    )



# ------------------------------- 25. fuzzy match / histogram / stats / ntile

@q(
    "q55_fuzzy_match",
    """
    SELECT a.p_brand,
           count(*) AS n_close_pairs,
           CAST(min(levenshtein(a.p_name, b.p_name)) AS BIGINT) AS min_dist
    FROM part a
    JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 12
    GROUP BY 1
    """,
)
def q55_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: the reference's conform-entity-key join
    (etl/3:62-78, etl/4:36-57) generalized to edit distance, via
    operators/fuzzy.fuzzy_pairs. The blocking key is the COMPOSITE
    (p_brand, length band) — the length banding is lossless for the
    threshold (|len diff| > 12 ⇒ dist > 12), so the oracle — which is
    blocking-agnostic — stays exact while each block shrinks by the
    length spread. fuzzy_pairs also takes max_block_size to hard-cap
    block sizes at real scale (unused here: exactness is the oracle's
    contract and TPC-H blocks are bounded)."""
    part = _t(spark, sf_dir, "part")
    pairs = FZ.fuzzy_pairs(
        part, key_col="p_partkey", text_col="p_name", block_col="p_brand", max_dist=12
    )
    return pairs.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_close_pairs"),
        F.min("dist").cast("long").alias("min_dist"),
    )



# ------------------------------------------ 27. dedup clustering (graph)

@q(
    "q65_dedup_components",
    """
    WITH RECURSIVE
    edges AS (
        SELECT a.p_partkey AS src, b.p_partkey AS dst
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
         AND abs(length(a.p_name) - length(b.p_name)) <= 12
        WHERE levenshtein(a.p_name, b.p_name) <= 12
    ),
    sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
    cc(node, label) AS (
        SELECT p_partkey AS node, p_partkey AS label FROM part
        UNION
        SELECT s.dst AS node, cc.label
        FROM cc JOIN sym s ON cc.node = s.src
    ),
    comp AS (SELECT node, min(label) AS component FROM cc GROUP BY node),
    sizes AS (
        SELECT component, count(*) AS component_size FROM comp GROUP BY component
    )
    SELECT CAST(component_size AS BIGINT) AS component_size,
           count(*) AS n_components
    FROM sizes GROUP BY component_size
    """,
)
def q65_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate CLUSTERS: transitive closure of the
    fuzzy-match pair graph via distributed min-label flooding
    (operators/graph.connected_components), then the cluster-size
    histogram. This is the step that turns any pair generator (MinHash,
    SimHash, embedding LSH, fuzzy) into keep/drop decisions — one
    canonical doc (min id) per component. The DuckDB oracle computes
    the same closure with a recursive CTE, so the distributed algorithm
    is hash-checked against a declarative reference.

    Edges are blocked on the composite (p_brand, p_size) — brand alone
    makes near-cliques of whole brands (~8M edges at sf0.1, dense
    flooding for no extra information); the composite keeps the graph
    dedup-shaped (~150k edges, 2-iteration convergence)."""
    part = _t(spark, sf_dir, "part")
    edges = FZ.fuzzy_pairs(
        part.withColumn(
            "_blk", F.concat_ws("|", "p_brand", F.col("p_size").cast("string"))
        ),
        key_col="p_partkey",
        text_col="p_name",
        block_col="_blk",
        max_dist=12,
    )
    comps = G.connected_components(
        edges,
        src="key_a",
        dst="key_b",
        nodes=part.select("p_partkey"),
        node_col="p_partkey",
    )
    return G.component_sizes(comps).select(
        F.col("component_size").cast("long").alias("component_size"),
        F.col("n_components").cast("long").alias("n_components"),
    )



@q(
    "q76_ivf_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id IN (10, 20, 30)),
         scored AS (
           SELECT q.query_id, c.vec_id,
                  round(list_cosine_similarity(c.embedding::DOUBLE[], q.qv), 6)
                      AS cos_sim
           FROM embeddings c CROSS JOIN q)
    SELECT query_id, vec_id, CAST(cos_sim AS DOUBLE) AS cos_sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, vec_id ASC) AS rn
          FROM scored)
    WHERE rn <= 8
    """,
)
def q76_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search with nprobe == nlist, which degrades exactly to
    brute force — so the full IVF machinery (coarse assign, probe list,
    per-partition scoring, top-k merge) is hash-checked against the
    exact-cosine oracle. Pruning behavior (nprobe < nlist scores only
    the probed partitions) is asserted in tests/test_similarity_ivf.py.
    """
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id").isin(10, 20, 30)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return SIM.ivf_topk(
        emb,
        queries,
        _CENTROIDS,
        k=8,
        nprobe=len(_CENTROIDS),
        score_round=6,
    )



@q(
    "q79_contamination",
    """
    WITH w AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(ws) - 2),
                   i -> array_to_string(ws[i:i+3], ' ')))) AS g
        FROM w WHERE len(ws) >= 4),
    bench AS (SELECT doc_id AS bench_id, g FROM sh WHERE doc_id % 20 = 0),
    hits AS (
        SELECT s.doc_id, count(DISTINCT s.g) AS n_shared
        FROM sh s JOIN bench b ON s.g = b.g AND s.doc_id <> b.bench_id
        GROUP BY 1)
    SELECT doc_id, CAST(n_shared AS BIGINT) AS n_shared FROM hits
    """,
)
def q79_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection (GPT-3 appendix-C style): flag
    training documents sharing any 4-gram with a held-out benchmark set
    (here: every 20th doc). Grams are built all-JVM (posexplode + 4
    lead() calls over one per-doc window — no interpreted HOF in the
    hot path) and deduped per doc; the benchmark side is tiny by
    construction, so the overlap join broadcasts it. At 100 TB hash
    grams to int64 (xxhash64) before the join to shrink shuffle/build
    width — string grams kept here for oracle comparability."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )
    words = docs.select("doc_id", F.posexplode(ws).alias("pos", "word"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("word", i).over(w) for i in range(1, 4)]
    grams = (
        words.select(
            "doc_id",
            F.concat_ws(" ", F.col("word"), *leads).alias("g"),
            leads[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select("doc_id", "g")
        .distinct()
    )
    bench = grams.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("bench_id"), F.col("g").alias("bg")
    )
    return (
        grams.join(
            F.broadcast(bench),
            (F.col("g") == F.col("bg")) & (F.col("doc_id") != F.col("bench_id")),
        )
        .groupBy("doc_id")
        .agg(F.count_distinct("g").cast("long").alias("n_shared"))
    )



@q(
    "q81_semantic_dedup",
    f"""
    WITH scored AS (
        SELECT vec_id, embedding, [{_CENTROID_SQL}] AS cs FROM embeddings),
    a AS (
        SELECT vec_id, embedding,
               CASE WHEN cs[1] >= cs[2] AND cs[1] >= cs[3] AND cs[1] >= cs[4] THEN 0
                    WHEN cs[2] >= cs[3] AND cs[2] >= cs[4] THEN 1
                    WHEN cs[3] >= cs[4] THEN 2 ELSE 3 END AS centroid_id
        FROM scored),
    edges AS (
        SELECT x.vec_id AS ia, y.vec_id AS ib
        FROM a x JOIN a y
          ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
        WHERE round(list_cosine_similarity(x.embedding::DOUBLE[],
                                           y.embedding::DOUBLE[]), 6) >= 0.40),
    sym AS (SELECT ia a, ib b FROM edges UNION ALL SELECT ib, ia FROM edges),
    comp AS (
        WITH RECURSIVE walk(node, label) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM sym)
            UNION
            SELECT s.b, w.label FROM walk w JOIN sym s ON w.node = s.a
            WHERE w.label < s.b),
        reach AS (SELECT node, min(label) AS component FROM walk GROUP BY 1)
        SELECT av.vec_id AS node,
               coalesce(r.component, av.vec_id) AS component,
               av.centroid_id
        FROM a av LEFT JOIN reach r ON av.vec_id = r.node)
    SELECT centroid_id, count(*) AS n_vectors,
           CAST(sum(CASE WHEN node = component THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM comp GROUP BY centroid_id
    """,
)
def q81_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (semantic near-dup removal, arXiv:2303.09540): coarse
    k-means partition → exact within-cluster cosine pairs (capped
    in-row expansion) → transitive closure → keep the min-id canonical
    per duplicate group. Reported per centroid as kept/total. The
    DuckDB oracle recomputes the closure with a recursive CTE, so the
    distributed flooding + capped pair generation is hash-checked
    end-to-end. Threshold 0.40 chosen because the synthetic embeddings
    are random (max within-cluster cosine ~0.51) — real corpora use
    0.95+."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    out = SIM.semantic_dedup(
        emb, _CENTROIDS, threshold=0.40, score_round=6
    )
    return out.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
    )



# --------------------------- 76. incremental ingest dedup (delta vs corpus)

@q(
    "q123_incremental_dedup",
    """
    WITH existing AS (SELECT * FROM documents WHERE doc_id % 4 <> 0),
    delta AS (SELECT * FROM documents WHERE doc_id % 4 = 0),
    intra AS (
        SELECT d.* FROM delta d
        WHERE d.doc_id = (SELECT min(d2.doc_id) FROM delta d2
                          WHERE md5(trim(regexp_replace(lower(d2.text), '\\s+', ' ', 'g')))
                              = md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))))
    )
    SELECT CAST(count(*) AS BIGINT) AS n_survivors,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM intra i
    WHERE NOT EXISTS (SELECT 1 FROM existing e
                      WHERE md5(trim(regexp_replace(lower(e.text), '\\s+', ' ', 'g')))
                        = md5(trim(regexp_replace(lower(i.text), '\\s+', ' ', 'g'))))
    """,
)
def q123_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a delta batch (doc_id % 4 = 0) lands
    against the already-ingested corpus (the rest); survivors are delta
    docs that are neither exact dups of the corpus nor intra-batch dups
    (keep lowest id). This is the EVERY-BATCH operation of a growing
    100 TB corpus — `dedup.dedup_incremental_exact` reduces both sides
    to md5 fingerprints scan-side and anti-joins 16-byte hash-uniform
    keys; at scale the corpus fingerprint set is maintained as its own
    compact table (existing_is_fingerprints=True) so ingest cost is
    |delta| + |fp set|, independent of corpus text bytes."""
    docs = _t(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    existing = docs.filter(F.col("doc_id") % 4 != 0)
    survivors = DD.dedup_incremental_exact(delta, existing, "text", "doc_id")
    return survivors.agg(
        F.count(F.lit(1)).cast("long").alias("n_survivors"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )



# ----------------------- 77. delta-vs-corpus near-dup candidates (LSH join)

@q(
    "q124_minhash_between",
    """
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
         delta AS (SELECT doc_id + 100000 AS doc_id, text FROM corpus
                   WHERE doc_id < 100),
         ck AS (SELECT doc_id,
                       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS key
                FROM corpus),
         dk AS (SELECT doc_id,
                       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS key
                FROM delta)
    SELECT d.doc_id AS delta_id, c.doc_id AS corpus_id,
           CAST(1.0 AS DOUBLE) AS est_jaccard
    FROM dk d JOIN ck c ON d.key = c.key
    """,
)
def q124_minhash_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates BETWEEN a delta batch and the corpus via the
    cross-corpus banded-LSH join (`dedup.minhash_pairs_between`) —
    the approximate companion to q123's exact path: one shuffle on
    (band, bucket), signatures in-row, cross-side pairs only, capped
    buckets. Value-checked on the PROVABLE subset (same construction
    as q27): the delta is an id-shifted copy of the first 100 corpus
    docs, so every delta doc has exactly one identical-text partner in
    the corpus, each such pair MUST collide in every band (identical
    signature — recall 1.0 by pigeonhole) with est_jaccard exactly
    1.0, and candidates are filtered to fingerprint-equal pairs. The
    DuckDB twin is the brute-force cross-side md5 join. Probabilistic
    near-dup recall is unit-tested in test_text_dedup against
    brute-force Jaccard."""
    from ingestao_dados_poli_spark.functions.text import fingerprint

    corpus = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500).select(
        "doc_id", "text"
    )
    delta = corpus.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    pairs = DD.minhash_pairs_between(
        delta, corpus, "text", "doc_id", num_hashes=64, num_bands=16
    )
    dfp = delta.select(F.col("doc_id").alias("left_id"), fingerprint("text").alias("_fa"))
    cfp = corpus.select(F.col("doc_id").alias("right_id"), fingerprint("text").alias("_fb"))
    return (
        pairs.join(dfp, "left_id")
        .join(cfp, "right_id")
        .filter(F.col("_fa") == F.col("_fb"))
        .select(
            F.col("left_id").alias("delta_id"),
            F.col("right_id").alias("corpus_id"),
            F.col("est_jaccard"),
        )
    )



# ------------- 84. iterative PageRank, exactly oracled (integer mass)

@q(
    "q131_pagerank",
    """
    WITH edges AS (
        SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000 AS dst
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        UNION
        SELECT DISTINCT o_custkey + 1000000 AS src, l_suppkey AS dst
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS mass FROM nodes),
    g1 AS (SELECT r.node, r.mass, coalesce(d.deg, 0) AS deg,
                  CASE WHEN d.deg IS NOT NULL
                       THEN (r.mass * 17) // (20 * d.deg) ELSE 0 END AS give
           FROM r0 r LEFT JOIN deg d USING (node)),
    c1 AS (SELECT e.dst AS node, sum(g.give) AS cin
           FROM edges e JOIN g1 g ON g.node = e.src GROUP BY 1),
    p1 AS (SELECT sum(mass - give * deg) AS pool FROM g1),
    r1 AS (SELECT nd.node, CAST(coalesce(c.cin, 0) + pool // n AS BIGINT) AS mass
           FROM nodes nd LEFT JOIN c1 c USING (node) CROSS JOIN p1 CROSS JOIN nn),
    g2 AS (SELECT r.node, r.mass, coalesce(d.deg, 0) AS deg,
                  CASE WHEN d.deg IS NOT NULL
                       THEN (r.mass * 17) // (20 * d.deg) ELSE 0 END AS give
           FROM r1 r LEFT JOIN deg d USING (node)),
    c2 AS (SELECT e.dst AS node, sum(g.give) AS cin
           FROM edges e JOIN g2 g ON g.node = e.src GROUP BY 1),
    p2 AS (SELECT sum(mass - give * deg) AS pool FROM g2),
    r2 AS (SELECT nd.node, CAST(coalesce(c.cin, 0) + pool // n AS BIGINT) AS mass
           FROM nodes nd LEFT JOIN c2 c USING (node) CROSS JOIN p2 CROSS JOIN nn),
    g3 AS (SELECT r.node, r.mass, coalesce(d.deg, 0) AS deg,
                  CASE WHEN d.deg IS NOT NULL
                       THEN (r.mass * 17) // (20 * d.deg) ELSE 0 END AS give
           FROM r2 r LEFT JOIN deg d USING (node)),
    c3 AS (SELECT e.dst AS node, sum(g.give) AS cin
           FROM edges e JOIN g3 g ON g.node = e.src GROUP BY 1),
    p3 AS (SELECT sum(mass - give * deg) AS pool FROM g3),
    r3 AS (SELECT nd.node, CAST(coalesce(c.cin, 0) + pool // n AS BIGINT) AS mass
           FROM nodes nd LEFT JOIN c3 c USING (node) CROSS JOIN p3 CROSS JOIN nn)
    SELECT CAST(node AS BIGINT) AS node, mass
    FROM r3 ORDER BY mass DESC, node LIMIT 20
    """,
)
def q131_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank over the supplier↔customer shipment graph
    (bipartite, both directions), 3 rounds of
    ``graph.pagerank_integer`` — the INTEGER mass-passing formulation
    whose floor-division arithmetic is bit-identical across engines,
    so an ITERATIVE algorithm (the category usually stuck with
    rows-only checks, like q65's closure) gets a full value-hash
    oracle: the DuckDB twin unrolls the same three rounds as chained
    CTEs. Top-20 most-central nodes by final mass."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("l_suppkey").cast("long").alias("src"),
            (F.col("o_custkey") + 1000000).cast("long").alias("dst"),
        )
        .distinct()
    )
    # No distinct after the symmetric union (r07): `pairs` is already
    # distinct and the forward/reversed halves live in DISJOINT key
    # spaces (src = suppkey, dst = custkey + 1e6), so the union is a
    # set by construction — the former .distinct() was a full
    # exchange+agg over 2|E| rows that removed nothing.
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # no_dangling: the union of pairs with their reversals gives every
    # node both an out- and an in-edge by construction (r08) — skips
    # the nodes pass and the per-round all-nodes re-join
    ranks = G.pagerank_integer(edges, iterations=3, no_dangling=True)
    return ranks.orderBy(F.col("mass").desc(), F.col("node")).limit(20)



# ------- 86. multi-batch incremental dedup via the versioned fp store

@q(
    "q133_fp_store_lifecycle",
    """
    WITH dn AS (SELECT doc_id, text,
                       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
                FROM documents),
    b1 AS (SELECT doc_id, fp FROM dn WHERE doc_id < 150),
    b2 AS (SELECT doc_id, fp FROM dn WHERE doc_id >= 150 AND doc_id < 300
           UNION ALL
           SELECT doc_id + 10000 AS doc_id, fp FROM dn WHERE doc_id < 40),
    b3 AS (SELECT doc_id, fp FROM dn WHERE doc_id >= 300 AND doc_id < 450
           UNION ALL
           SELECT doc_id + 20000 AS doc_id, fp FROM dn
           WHERE doc_id >= 50 AND doc_id < 90
           UNION ALL
           SELECT doc_id + 30000 AS doc_id, fp FROM dn
           WHERE doc_id >= 200 AND doc_id < 240),
    seen AS (SELECT fp FROM b1 UNION SELECT fp FROM b2),
    s3 AS (SELECT fp, min(doc_id) AS doc_id FROM b3 GROUP BY fp)
    SELECT s3.doc_id, s3.fp
    FROM s3 WHERE s3.fp NOT IN (SELECT fp FROM seen)
    """,
)
def q133_fp_store_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three ingest batches deduped through the VERSIONED fingerprint
    store (`operators/dedup.py` `dedup_ingest_batch` /
    `fingerprint_store_compact`): batch 1 seeds the store, batch 2
    (with planted cross-batch dups of batch 1) appends a delta, the
    store is compacted to one snapshot, and batch 3 (with planted dups
    of batches 1 AND 2) dedups against ONLY the compacted+delta
    fingerprints — its plan never touches batch-1/2 text bytes, which
    is the property that makes per-ingest cost |batch| + |fp set| at
    100 TB. The oracle recomputes the same set algebra from raw text
    in DuckDB, so a store that lost a fingerprint (survivor leaks
    through) or invented one (survivor wrongly dropped) hash-fails.
    Version lifecycle is asserted in-line: ingest, ingest, compact
    (vacuum to 1), ingest must leave exactly committed versions
    [3, 4]."""
    import shutil as _shutil

    from ingestao_dados_poli_spark.operators.dedup import fingerprint_exact
    from ingestao_dados_poli_spark.sources import versioned as V

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    b1 = docs.filter(did < 150)
    b2 = docs.filter((did >= 150) & (did < 300)).unionByName(
        docs.filter(did < 40).select((did + 10000).alias("doc_id"), "text")
    )
    b3 = (
        docs.filter((did >= 300) & (did < 450))
        .unionByName(
            docs.filter((did >= 50) & (did < 90)).select(
                (did + 20000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.filter((did >= 200) & (did < 240)).select(
                (did + 30000).alias("doc_id"), "text"
            )
        )
    )
    store = _scratch_dir("q133_fp", sf_dir)
    _shutil.rmtree(store, ignore_errors=True)
    DD.dedup_ingest_batch(spark, b1, store, "text", "doc_id")
    DD.dedup_ingest_batch(spark, b2, store, "text", "doc_id")
    DD.fingerprint_store_compact(spark, store, keep=1)
    survivors, _ = DD.dedup_ingest_batch(spark, b3, store, "text", "doc_id")
    got = V.committed_versions(spark, store)
    if got != [3, 4]:
        raise AssertionError(f"fp store lifecycle drifted: versions {got}")
    return survivors.select("doc_id", fingerprint_exact("text").alias("fp"))



# ------------------- 79. span-level exact dedup with document reassembly

@q(
    "q137_span_dedup",
    """
    WITH nsp AS (
        SELECT doc_id,
               CAST(ceil(len(string_split(text, ' ')) / 3.0) AS BIGINT)
                   AS n_spans,
               string_split(text, ' ') AS toks
        FROM documents
    ),
    spans AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS idx,
               array_to_string(
                   list_slice(toks, (i - 1) * 3 + 1, (i - 1) * 3 + 3), ' '
               ) AS span
        FROM nsp, unnest(generate_series(1, n_spans)) AS g(i)
    ),
    dup AS (
        SELECT span FROM spans GROUP BY span
        HAVING count(DISTINCT doc_id) > 1
    ),
    kept AS (
        SELECT s.doc_id, s.idx, s.span
        FROM spans s ANTI JOIN dup d ON s.span = d.span
    ),
    re AS (
        SELECT doc_id, string_agg(span, ' ' ORDER BY idx) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT n.doc_id, coalesce(re.clean_text, '') AS clean_text,
           n.n_spans,
           CAST(n.n_spans - coalesce(re.n_kept, 0) AS BIGINT) AS n_removed
    FROM nsp n LEFT JOIN re ON n.doc_id = re.doc_id
    """,
)
def q137_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup at span granularity
    (`operators/corpus.py:dedup_spans`): every 3-word span occurring in
    >1 document is deleted from ALL documents and the survivors are
    stitched back in order — the passage-level cousin of whole-doc
    dedup that strips shared boilerplate while keeping each doc's
    unique remainder. 3 map-side-combined shuffles, duplicated-span set
    anti-joined (AQE broadcasts it when small), reassembly via in-row
    array_sort — no windows, no global sort, text never collected.
    Fully value-oracled per document including the reassembled text."""
    docs = _t(spark, sf_dir, "documents")
    return CO.dedup_spans(docs, span_words=3, max_doc_freq=1)



# ---------------- 84. int8-quantized embedding top-k (compressed ANN)

@q(
    "q142_quantized_topk",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         qz AS (
           SELECT vec_id,
                  list_transform(
                    v,
                    x -> CASE
                           WHEN list_max(list_transform(v, y -> abs(y))) = 0
                           THEN 0
                           ELSE CAST(floor(
                             x / (list_max(list_transform(v, y -> abs(y)))
                                  / 127.0) + 0.5) AS BIGINT)
                         END) AS q
           FROM base),
         qs AS (SELECT vec_id AS query_id, q AS qq FROM qz WHERE vec_id < 3),
         scored AS (
           SELECT qs.query_id, c.vec_id,
                  round(
                    list_inner_product(c.q, qs.qq)
                    / (sqrt(list_inner_product(c.q, c.q))
                       * sqrt(list_inner_product(qs.qq, qs.qq))), 6
                  ) AS qcos_sim
           FROM qz c CROSS JOIN qs)
    SELECT query_id, vec_id, CAST(qcos_sim AS DOUBLE) AS qcos_sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY qcos_sim DESC, vec_id ASC) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def q142_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-domain ANN (`functions/vectors.py:quantize_int8`):
    symmetric per-vector int8 codes (4x smaller than float32 — 4x less
    scan/shuffle/broadcast at 100 TB), cosine computed DIRECTLY on the
    codes with exact long accumulation (the per-vector scale cancels in
    the ratio, so no dequantization pass exists at all). Same
    plan shape as the exact baseline q26: quantized queries broadcast,
    corpus never shuffles, rank by 6-dp-rounded score + id tie-break.
    Fully value-oracled — quantization uses floor-based round-half-up,
    which DuckDB reproduces bit-for-bit; recall vs the exact baseline
    is measured in test_similarity_multimodal."""
    from ingestao_dados_poli_spark.functions.vectors import (
        int8_cosine,
        quantize_int8,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        quantize_int8(F.col("embedding").cast("array<double>")).alias("q"),
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    scored = emb.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "vec_id",
        F.round(int8_cosine("q", "qq"), 6).alias("qcos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )



# --------------- 86. order-insensitive table fingerprint (anti-entropy)

@q(
    "q143_table_fingerprint",
    """
    WITH h AS (
      SELECT o_orderpriority,
             CAST(('0x' || substr(md5(concat_ws(chr(31),
                 coalesce(CAST(o_orderkey AS VARCHAR),
                          chr(0) || 'null' || chr(0)),
                 coalesce(o_orderpriority, chr(0) || 'null' || chr(0)),
                 coalesce(CAST(o_orderdate AS VARCHAR),
                          chr(0) || 'null' || chr(0)),
                 coalesce(CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))
                               AS VARCHAR),
                          chr(0) || 'null' || chr(0))
             )), 1, 15)) AS BIGINT) AS hh
      FROM orders)
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           bit_xor(hh) AS xor_fp,
           CAST(sum(CAST(hh AS HUGEINT)) % 1152921504606846976 AS BIGINT)
               AS sum_fp
    FROM h GROUP BY o_orderpriority
    """,
)
def q143_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy digest (`operators/audit.py`): per-priority
    (count, bit_xor, modular-sum) fingerprints of orders — the
    replica-verification exchange that compares 100 TB copies by
    sending O(groups) hashes instead of rows, with xor catching any
    single-row drift and the modular sum catching the duplicate-pair
    cancellation xor misses. THE cross-engine subtlety is row
    canonicalization: doubles are rounded + cast to DECIMAL before
    hashing because double→string formatting is engine-specific —
    exactly the discipline a real cross-system migration check needs,
    and the oracle proves DuckDB derives the IDENTICAL 60-bit hashes
    from the same canonical strings."""
    from ingestao_dados_poli_spark.operators import audit as AU

    orders = _t(spark, sf_dir, "orders")
    cols = [
        F.col("o_orderkey"),
        F.col("o_orderpriority"),
        F.col("o_orderdate"),
        F.round("o_totalprice", 2).cast("decimal(18,2)"),
    ]
    return AU.table_fingerprint(orders, cols, group_by=["o_orderpriority"])



# ------------- 90. persisted IVF index lifecycle (ingest -> search)

@q(
    "q148_ivf_index_lifecycle",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id IN (7, 42)),
         scored AS (
           SELECT q.query_id, c.vec_id,
                  round(list_cosine_similarity(c.embedding::DOUBLE[], q.qv), 6)
                      AS cos_sim
           FROM embeddings c CROSS JOIN q)
    SELECT query_id, vec_id, CAST(cos_sim AS DOUBLE) AS cos_sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, vec_id ASC) AS rn
          FROM scored)
    WHERE rn <= 6
    """,
)
def q148_ivf_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index maintenance (`operators/similarity.py:
    ivf_index_ingest/read/search`): the corpus arrives in TWO batches,
    each assigned to the FIXED codebook scan-side and published as an
    atomic delta snapshot hive-partitioned by centroid_id — per-ingest
    cost is |batch|, no re-clustering, no index rewrite (the codebook
    is the index's stable contract). Search unions the committed
    deltas and probes partitions; run here with nprobe == nlist so the
    whole lifecycle — two ingests, delta union, probe join, top-k
    merge — degrades exactly to brute force and value-checks against
    the exact-cosine oracle. Batching-invariance (index built in 2
    batches == built in 1) is pinned in test_similarity_ivf."""
    import shutil as _shutil

    from ingestao_dados_poli_spark.operators.similarity import (
        ivf_index_ingest,
        ivf_index_search,
    )

    idx = _scratch_dir("q148_ivf", sf_dir)
    _shutil.rmtree(idx, ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    ivf_index_ingest(
        spark, emb.filter(F.col("vec_id") < 250), _CENTROIDS, idx,
        score_round=6,
    )
    ivf_index_ingest(
        spark, emb.filter(F.col("vec_id") >= 250), _CENTROIDS, idx,
        score_round=6,
    )
    queries = emb.filter(F.col("vec_id").isin(7, 42)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_index_search(
        spark, idx, queries, _CENTROIDS,
        k=6, nprobe=len(_CENTROIDS), score_round=6,
    )



# ------------- 95. keep-best-duplicate dedup (quality-ranked survivor)

@q(
    "q153_dedup_keep_best",
    """
    WITH fp AS (
        SELECT doc_id, source, n_chars,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        FROM documents),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY f ORDER BY source ASC, doc_id ASC) AS rn
        FROM fp)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars
    FROM ranked WHERE rn = 1 GROUP BY source
    """,
)
def q153_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked dedup survivor selection: exact-duplicate groups
    (normalized-text md5) keep the copy from the PREFERRED source
    (lowest source id here; in production, a source-priority ranking —
    the RefinedWeb 'keep the highest-quality duplicate' policy) rather
    than an arbitrary or min-id row. One shuffle on the fingerprint
    (`relational.dedup_keep_first` with an explicit priority order);
    per-source survivor counts are the mixing-relevant output."""
    docs = _t(spark, sf_dir, "documents")
    fp = docs.withColumn(
        "f",
        F.md5(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
        ),
    )
    kept = R.dedup_keep_first(
        fp, ["f"], [F.col("source").asc(), F.col("doc_id").asc()]
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
    )



# ------------- 105. triangle counting (co-supply graph)

@q(
    "q163_triangle_count",
    """
    WITH pairs AS (
        SELECT least(a.l_suppkey, b.l_suppkey) AS lo,
               greatest(a.l_suppkey, b.l_suppkey) AS hi
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_suppkey < b.l_suppkey
        GROUP BY lo, hi HAVING count(*) >= 5),
    tri AS (
        SELECT 1
        FROM pairs ab
        JOIN pairs bc ON ab.hi = bc.lo
        JOIN pairs ac ON ac.lo = ab.lo AND ac.hi = bc.hi)
    SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM tri
    """,
)
def q163_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics #3 (after components and PageRank): triangles
    in the FREQUENT-co-supply graph (supplier pairs sharing >= 5
    orders), via `operators/graph.py:triangle_count` — canonical a<b<c
    orientation so each triangle matches exactly once and wedge
    fan-out is bounded by ORIENTED degrees (the Suri-Vassilvitskii
    trick that stops hub vertices exploding the intermediate at
    scale). The weight threshold is the OTHER density lever: raw
    co-occurrence on this data is a near-complete graph (453k edges
    over 1k suppliers at sf0.1 — 160M wedges, measured 26s), while
    strong ties keep ~50k edges and ~2M wedges; thresholding before
    triangle enumeration is exactly what production co-occurrence
    analyses (market-basket, co-citation) do, because triangles in a
    near-clique carry no signal anyway. Value-oracled against DuckDB's
    three-way join formulation."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Pair expansion IN-ROW (r08, guide §2.4): the former lineitem
    # self-join on l_orderkey shuffled+sorted BOTH sides for an SMJ and
    # re-exchanged the pair stream for the groupBy. One groupBy(order)
    # + collect_list + in-row expansion pays a single exchange of the
    # raw rows; per-order line counts are tiny (~4), so the in-row pair
    # fan-out is bounded. Multiset semantics match the join exactly:
    # every LINE pair with suppkey_a < suppkey_b counts once — the
    # sorted-array expansion emits all index pairs i<j, and the strict
    # filter drops equal-supplier line pairs the join's a<b excluded.
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_suppkey")).alias("_ss")
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("_ss"),
                lambda x, i: F.transform(
                    F.slice(F.col("_ss"), i + F.lit(2), F.size(F.col("_ss"))),
                    lambda y: F.struct(x.alias("src"), y.alias("dst")),
                ),
            )
        )
    )
    edges = (
        per_order.select(pair.alias("p"))
        .filter(F.col("p.src") < F.col("p.dst"))
        .groupBy(
            F.col("p.src").alias("src"),
            F.col("p.dst").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 5)
        .select("src", "dst")
    )
    return G.triangle_count(edges)



# ------------- 119. rank vs row_number tie semantics

@q(
    "q177_rank_tie_semantics",
    """
    WITH r AS (
        SELECT c_mktsegment, c_custkey,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
               rank() OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY floor(c_acctbal / 1000) DESC,
                                           c_custkey ASC) AS rn
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment
                     ORDER BY floor(c_acctbal / 1000) DESC))
    SELECT c_mktsegment,
           CAST(sum(CASE WHEN rnk <= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS topk_with_ties,
           CAST(sum(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS topk_exact,
           CAST(max(drnk) AS BIGINT) AS n_distinct_bands
    FROM r GROUP BY c_mktsegment
    """,
)
def q177_rank_tie_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / row_number disambiguated on REAL ties
    (banded balances): 'top 3 WITH ties' (rank — returns more than 3
    when band boundaries tie), 'exactly 3' (row_number with an
    explicit tie-break — the only deterministic choice), and distinct
    tie-group count (dense_rank's max). Choosing the wrong one is the
    classic leaderboard bug; all three share ONE window shuffle. The
    deliberately tie-heavy ordering makes the engines' agreement on
    every count the proof that tie semantics match exactly."""
    cust = _t(spark, sf_dir, "customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    w_ties = Window.partitionBy("c_mktsegment").orderBy(
        F.col("bal_band").desc()
    )
    w_exact = Window.partitionBy("c_mktsegment").orderBy(
        F.col("bal_band").desc(), F.col("c_custkey").asc()
    )
    r = cust.select(
        "c_mktsegment",
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
        F.row_number().over(w_exact).alias("rn"),
    )
    return r.groupBy("c_mktsegment").agg(
        F.sum(F.when(F.col("rnk") <= 3, 1).otherwise(0))
        .cast("long")
        .alias("topk_with_ties"),
        F.sum(F.when(F.col("rn") <= 3, 1).otherwise(0))
        .cast("long")
        .alias("topk_exact"),
        F.max("drnk").cast("long").alias("n_distinct_bands"),
    )


