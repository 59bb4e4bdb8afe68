"""Text/corpus registry: tokenization, language/quality scoring, PII,
chunking/packing/sampling, boilerplate and span dedup, multimodal
decode, validation checkpoints.

Split out of the former monolithic queries.py (round 5) — every
block is verbatim; registration happens via the shared `q` decorator
from `._base`, so importing this module populates QUERIES/ORACLES.
"""

from ingestao_dados_poli_spark.registry._base import *  # noqa: F401,F403



# -------------------------------------------------------- 8. quality suite

@q(
    "q17_null_counts",
    """
    SELECT CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderkey_nulls,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_custkey_nulls,
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderstatus_nulls,
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_totalprice_nulls
    FROM orders
    """,
)
def q17_null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality primitive Q3: ALL null-checks in ONE aggregation pass
    (vs Great Expectations' job-per-expectation)."""
    orders = _t(spark, sf_dir, "orders")
    return null_counts(orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"])



@q(
    "q25_quality_score",
    """
    SELECT source,
           CAST(round(avg(
             (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.4 END)
           * (CASE WHEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                        / greatest(length(text), 1) <= 0.15 THEN 1.0 ELSE 0.5 END)
           * (CASE WHEN (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
                        / greatest(length(text), 1) <= 0.30 THEN 1.0 ELSE 0.5 END)
           * (CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) >= 10
                   THEN 1.0 ELSE 0.3 END)), 4) AS DOUBLE) AS avg_quality,
           count(*) AS n_docs
    FROM documents GROUP BY source
    """,
)
def q25_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style heuristic quality scoring, aggregated by source."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.round(F.avg(TX.quality_score("text")), 4).alias("avg_quality"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@q(
    "q34_lang_id",
    f"""
    WITH scored AS (
        SELECT lang AS lang_true,
               len(regexp_extract_all(lower(text), '{_LANG_RE["en"]}')) AS en_hits,
               len(regexp_extract_all(lower(text), '{_LANG_RE["es"]}')) AS es_hits,
               len(regexp_extract_all(lower(text), '{_LANG_RE["pt"]}')) AS pt_hits
        FROM documents)
    SELECT lang_true,
           CASE WHEN greatest(en_hits, es_hits, pt_hits) = 0 THEN 'und'
                WHEN pt_hits >= es_hits AND pt_hits >= en_hits THEN 'pt'
                WHEN es_hits >= en_hits THEN 'es'
                ELSE 'en' END AS lang_pred,
           count(*) AS n
    FROM scored GROUP BY lang_true, lang_pred
    """,
)
def q34_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-marker language ID confusion matrix against the documents
    table's ground-truth lang column. Ties break toward the
    lexicographically-largest language code (greatest over structs)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("lang").alias("lang_true"), TX.lang_id("text").alias("lang_pred")
    ).groupBy("lang_true", "lang_pred").agg(F.count(F.lit(1)).alias("n"))



@q(
    "q35_token_counts",
    f"""
    SELECT source,
           CAST(sum(CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS ws_tokens,
           CAST(sum(len(regexp_extract_all(text,
                '{TX.TOKEN_PATTERN}'))) AS BIGINT) AS bpe_tokens
    FROM documents GROUP BY source
    """,
)
def q35_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting per source (the cost model any
    training-data pipeline runs before tokenizing for real)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(TX.n_tokens_ws("text")).cast("long").alias("ws_tokens"),
        F.sum(TX.n_tokens_bpe("text")).cast("long").alias("bpe_tokens"),
    )



# ------------------------------------------------- 17. quality suite run

@q(
    "q38_quality_suite",
    """
    SELECT 'not_null o_orderkey' AS rule,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS unexpected
    FROM orders
    UNION ALL
    SELECT 'between o_totalprice [0.0, 1000000.0]' AS rule,
           CAST(sum(CASE WHEN o_totalprice IS NULL
                         OR o_totalprice NOT BETWEEN 0 AND 1000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS unexpected
    FROM orders
    UNION ALL
    SELECT 'values_in_set o_orderstatus in [''O'', ''F'', ''P'']' AS rule,
           CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                         AND o_orderstatus IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS unexpected
    FROM orders
    """,
)
def q38_quality_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A whole expectation suite (reference Q3/Q5 + values_in_set) in ONE
    aggregation job; the report rows come back as a DataFrame."""
    orders = _t(spark, sf_dir, "orders")
    suite = Q.Suite(
        "validacao_orders",
        [
            Q.not_null("o_orderkey"),
            Q.between("o_totalprice", 0.0, 1_000_000.0),
            Q.values_in_set("o_orderstatus", ["O", "F", "P"]),
        ],
    )
    report = Q.validate(orders, suite)
    rows = [
        (r["rule"], int(r.get("unexpected_count", 0))) for r in report["results"]
    ]
    return _lit_df(spark, "rule string, unexpected long", rows)



@q("q49_stratified_sample")
def q49_stratified_sample(
    spark: SparkSession, sf_dir: str, fractions: dict | None = None
) -> DataFrame:
    """Per-source stratified sampling via Spark's native ``sampleBy``
    (rows-only: sampling RNG is engine-specific, so no cross-engine
    oracle): keep all of one source, thin the rest — the data-mixing
    primitive. ``fractions`` is an explicit config dict; the
    plan-building path has NO driver collect. The REPRODUCIBLE variant
    — membership by md5 hash threshold, identical across engines and
    fully value-oracled — is q134_deterministic_mix.

    Self-asserting (q129 pattern — the sampling itself can't be
    value-oracled, so the query carries its own proof): (a) the
    fraction-1.0 stratum must come back COMPLETE, (b) every sampled
    stratum count must lie within 6-sigma binomial bounds of
    fraction·n (a wrong-fraction or wrong-stratum regression lands
    far outside), (c) re-running the sample with the same seed must
    reproduce the per-stratum counts exactly (seeded determinism —
    the property that makes a sampled training mix re-buildable).
    The probes are tiny aggregates (one row per stratum)."""
    import math

    docs = _t(spark, sf_dir, "documents")
    fr = fractions or Q49_MIX_FRACTIONS
    sampled = R.stratified_sample(docs, "source", fr)
    out = sampled.groupBy("source").agg(F.count(F.lit(1)).alias("n_sampled"))

    totals = {
        r.source: r.n
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {r.source: r.n_sampled for r in out.collect()}
    rerun = {
        r.source: r.n_sampled
        for r in R.stratified_sample(docs, "source", fr)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .collect()
    }
    if got != rerun:
        raise AssertionError(f"seeded sample not deterministic: {got} != {rerun}")
    for src, n in totals.items():
        f = fr.get(src, 0.0)
        k = got.get(src, 0)
        if f >= 1.0 and k != n:
            raise AssertionError(f"fraction-1.0 stratum {src} incomplete: {k}/{n}")
        sigma = math.sqrt(n * f * (1 - f))
        if abs(k - n * f) > 6 * sigma + 1:
            raise AssertionError(
                f"stratum {src}: sampled {k} of {n} at f={f} "
                f"(expected {n * f:.1f} ± {6 * sigma:.1f})"
            )
    return out



# ------------------------------------------------- 23. PII / repetition

@q(
    "q53_pii_scrub",
    """
    WITH seeded AS (
        SELECT doc_id, source,
               text || CASE WHEN doc_id % 10 = 0
                            THEN ' contact: user' || doc_id || '@example.com or +1 (555) 010-' || doc_id
                            ELSE '' END AS text
        FROM documents),
    scrubbed AS (
        SELECT doc_id, source,
               len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
             + len(regexp_extract_all(text, '\\+?[0-9][0-9()\\-\\s]{7,}[0-9]')) AS n_pii,
               length(regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[REDACTED]', 'g'),
                   '\\+?[0-9][0-9()\\-\\s]{7,}[0-9]', '[REDACTED]', 'g')) AS len_after
        FROM seeded)
    SELECT source,
           CAST(sum(n_pii) AS BIGINT) AS total_pii,
           count(CASE WHEN n_pii > 0 THEN 1 END) AS docs_with_pii,
           CAST(sum(len_after) AS BIGINT) AS total_len_after
    FROM scrubbed GROUP BY source
    """,
)
def q53_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII hygiene pass: seed every 10th doc with an email+phone (the
    corpus has none), count PII spans, and measure post-redaction
    length. Scan-side regex only — no shuffle beyond the final agg."""
    docs = _t(spark, sf_dir, "documents")
    seeded = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 10 == 0,
                F.concat(
                    F.lit(" contact: user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or +1 (555) 010-"),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    stats = seeded.select(
        "source",
        TX.pii_count("text").alias("n_pii"),
        F.length(TX.scrub_pii("text")).alias("len_after"),
    )
    return stats.groupBy("source").agg(
        F.sum("n_pii").cast("long").alias("total_pii"),
        F.count(F.when(F.col("n_pii") > 0, 1)).alias("docs_with_pii"),
        F.sum("len_after").cast("long").alias("total_len_after"),
    )



@q("q40_media_features")
def q40_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing (rows-only): Arrow-batched mapInPandas feature
    extraction over a deterministic synthetic media table.

    Self-asserting (q129 pattern — rows-only queries must carry their
    own proof): one sampled row's feature is recomputed DRIVER-SIDE
    from first principles — sha256 of the seed+id string (the payload
    construction) fed through the same digest featurizer — and the
    query fails loudly if the distributed Arrow path disagrees, so a
    plumbing regression can't return plausible-but-wrong rows."""
    import hashlib

    media = MM.synthetic_media(spark, n=256)
    feats = MM.extract_image_features(media, dim=8)
    out = feats.select(
        "media_id", "width", "height", "n_bytes", F.round(F.element_at("features", 1), 6).alias("f0")
    )
    probe = out.filter(F.col("media_id") == 7).collect()  # 1-row scalar probe
    # payload = sha2(concat('42', id)) hex string cast to binary = the
    # hex text's utf-8 bytes (synthetic_media's construction, seed 42)
    payload = hashlib.sha256(b"427").hexdigest().encode()
    expected = round(MM._fake_features(payload, 8)[0], 6)
    if len(probe) != 1 or abs(probe[0].f0 - expected) > 1e-9 or probe[0].n_bytes != len(payload):
        raise AssertionError(
            f"media feature self-check failed: got {probe}, expected f0={expected}"
        )
    return out



@q(
    "q68_column_profile",
    """
    SELECT 'c_custkey' AS column, sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS n_nulls,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
           CAST(min(c_custkey) AS VARCHAR) AS min_value,
           CAST(max(c_custkey) AS VARCHAR) AS max_value
    FROM customer
    UNION ALL
    SELECT 'c_mktsegment', sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END),
           CAST(count(DISTINCT c_mktsegment) AS BIGINT),
           CAST(min(c_mktsegment) AS VARCHAR), CAST(max(c_mktsegment) AS VARCHAR)
    FROM customer
    UNION ALL
    SELECT 'c_nationkey', sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END),
           CAST(count(DISTINCT c_nationkey) AS BIGINT),
           CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR)
    FROM customer
    """,
)
def q68_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality.profile_columns: one-scan/one-shuffle column profiling
    (nulls, distincts, min/max) across heterogeneous column types —
    the reconnaissance step before writing expectation suites. The
    oracle computes each column's stats as separate scans; the engine
    does them all in ONE aggregation (distinct-agg Expand) and unpivots
    the single wide row with stack()."""
    customer = _t(spark, sf_dir, "customer")
    return Q.profile_columns(customer, ["c_custkey", "c_mktsegment", "c_nationkey"])



# -------------------- 30. corpus vocabulary / quality-filter / anomaly

@q(
    "q71_bigram_vocab",
    """
    WITH w AS (
        SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS ws
        FROM documents),
    b AS (
        SELECT unnest(list_transform(range(1, len(ws)),
                                     i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        FROM w WHERE len(ws) >= 2)
    SELECT bigram, count(*) AS n_occurrences
    FROM b GROUP BY 1
    ORDER BY n_occurrences DESC, bigram ASC
    LIMIT 20
    """,
)
def q71_bigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram vocabulary (top-20): posexplode words, lead() over
    (doc, pos) to form bigrams, count. All-JVM (no interpreted HOF in
    the hot path — the per-doc window beats a transform() lambda at
    corpus scale); the only shuffles are the per-doc window and the
    final count. LIMIT ties broken by bigram text so the cut is
    deterministic across engines."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )
    words = docs.select("doc_id", F.posexplode(ws).alias("pos", "word"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = words.select(
        F.concat_ws(" ", "word", F.lead("word").over(w)).alias("bigram"),
        F.lead("word").over(w).alias("_w2"),
    ).filter(F.col("_w2").isNotNull())
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("bigram").asc())
        .limit(20)
    )


@q(
    "q72_gopher_quality",
    f"""
    WITH feat AS (
        SELECT source,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS ws,
               length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                   AS n_word_chars
        FROM documents),
    flags AS (
        SELECT source,
               CASE WHEN len(ws) >= 5 AND len(ws) <= 50000
                     AND n_word_chars::DOUBLE / greatest(len(ws), 1) BETWEEN 2 AND 12
                     AND len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))::DOUBLE
                         / greatest(len(ws), 1) >= 0.6
                     AND list_has_any(ws, {_STOPWORDS!r})
               THEN 1 ELSE 0 END AS passes
        FROM feat)
    SELECT source, count(*) AS n_docs,
           CAST(sum(passes) AS BIGINT) AS n_pass,
           CAST(round(sum(passes)::DOUBLE / count(*), 4) AS DOUBLE) AS pass_rate
    FROM flags GROUP BY source
    """,
)
def q72_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style document quality-filter chain: word count bounds,
    mean word length, alphabetic-word ratio, stopword presence — the
    standard pretraining-corpus gate — evaluated scan-side in one pass
    and aggregated per source. Ratios divide identical integers in both
    engines, so the boolean cut is float-order independent."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )
    feat = docs.select(
        "source",
        ws.alias("ws"),
        F.length(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")
        ).alias("n_word_chars"),
    )
    n_words = F.size("ws")
    alpha_words = F.size(F.filter(F.col("ws"), lambda x: x.rlike("[a-z]")))
    # greatest(n, 1): ANSI Spark throws on /0 and boolean AND does not
    # guarantee short-circuit; n_words==0 already fails between(5, ...).
    safe_n = F.greatest(n_words, F.lit(1))
    passes = (
        n_words.between(5, 50000)
        & (F.col("n_word_chars").cast("double") / safe_n).between(2, 12)
        & (alpha_words.cast("double") / safe_n >= 0.6)
        & F.arrays_overlap("ws", F.array(*[F.lit(s) for s in _STOPWORDS]))
    )
    flags = feat.select("source", F.when(passes, 1).otherwise(0).alias("passes"))
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("passes").cast("long").alias("n_pass"),
        F.round(
            F.sum("passes").cast("double") / F.count(F.lit(1)), 4
        ).alias("pass_rate"),
    )


@q(
    "q80_psi_drift",
    f"""
    WITH binned AS (
        SELECT least(CAST(floor(o_totalprice / {_PSI_WIDTH}) AS BIGINT),
                     {_PSI_BINS - 1}) AS bin,
               o_orderpriority AS prio
        FROM orders
        WHERE o_orderpriority IN ('{_PSI_PRIO_A}', '{_PSI_PRIO_B}')),
    spine AS (SELECT unnest(generate_series(0, {_PSI_BINS - 1})) AS bin),
    counts AS (
        SELECT s.bin,
               CAST(sum(CASE WHEN b.prio = '{_PSI_PRIO_A}' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ca,
               CAST(sum(CASE WHEN b.prio = '{_PSI_PRIO_B}' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cb
        FROM spine s LEFT JOIN binned b ON s.bin = b.bin GROUP BY 1),
    tot AS (SELECT sum(ca) AS ta, sum(cb) AS tb FROM counts),
    terms AS (
        SELECT ((ca + 0.5) / (ta + 0.5 * {_PSI_BINS})
              - (cb + 0.5) / (tb + 0.5 * {_PSI_BINS}))
             * ln(((ca + 0.5) / (ta + 0.5 * {_PSI_BINS}))
                / ((cb + 0.5) / (tb + 0.5 * {_PSI_BINS}))) AS term
        FROM counts, tot)
    SELECT CAST({_PSI_BINS} AS BIGINT) AS n_bins,
           CAST(round(sum(term), 6) AS DOUBLE) AS psi
    FROM terms
    """,
)
def q80_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift metric between two slices
    (order-price distribution of URGENT vs LOW priority orders) over a
    fixed bin grid: one scan builds both binned histograms via
    conditional aggregation, a literal bin spine guarantees every bin
    exists, Laplace smoothing (+0.5) keeps empty bins finite. PSI is
    THE production drift gate for feature pipelines; everything here is
    scan-side + one tiny agg, so it costs one pass at any scale."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin(_PSI_PRIO_A, _PSI_PRIO_B)
    )
    binned = orders.select(
        F.least(
            F.floor(F.col("o_totalprice") / _PSI_WIDTH).cast("long"),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
        F.col("o_orderpriority").alias("prio"),
    )
    spine = spark.range(_PSI_BINS).select(F.col("id").alias("bin"))
    # aggregate the fact FIRST (map-side-combined, <= n_bins rows), then
    # join the tiny histogram to the spine — never shuffle the fact on a
    # 10-key (skewed) bin column.
    hist = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("prio") == _PSI_PRIO_A, 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("prio") == _PSI_PRIO_B, 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    counts = spine.join(hist, "bin", "left").select(
        "bin",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    tot = counts.agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb"))
    sm = 0.5 * _PSI_BINS
    pa = (F.col("ca") + 0.5) / (F.col("ta") + sm)
    pb = (F.col("cb") + 0.5) / (F.col("tb") + sm)
    terms = counts.crossJoin(F.broadcast(tot)).select(
        ((pa - pb) * F.log(pa / pb)).alias("term")
    )
    return terms.agg(
        F.lit(_PSI_BINS).cast("long").alias("n_bins"),
        F.round(F.sum("term"), 6).alias("psi"),
    )



# ------------------------------------------- 35. corpus prep: chunking

@q(
    "q82_doc_chunking",
    """
    WITH starts AS (
        SELECT doc_id, source,
               unnest(generate_series(1, greatest(length(text), 1), 150))
                   AS chunk_start,
               text
        FROM documents)
    SELECT doc_id, source,
           CAST((chunk_start - 1) // 150 AS INTEGER) AS chunk_id,
           CAST(chunk_start AS INTEGER) AS chunk_start,
           substr(text, chunk_start, 200) AS chunk_text
    FROM starts
    """,
)
def q82_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping character-window chunking (200-char windows, 50-char
    overlap → stride 150): sequence+explode+substring, all scan-side
    codegen, zero shuffles — the context-window prep stage before
    embedding/tokenization. Oracle recomputes with generate_series +
    substr (both engines define substring as 1-based length-capped)."""
    docs = _t(spark, sf_dir, "documents")
    return CO.chunk_documents(
        docs, chunk_size=200, overlap=50
    ).select(
        "doc_id",
        "source",
        "chunk_id",
        F.col("chunk_start").cast("int").alias("chunk_start"),
        "chunk_text",
    )



# ------------------------------------- 37. corpus prep: sequence packing

@q(
    "q84_sequence_packing",
    """
    SELECT doc_id, source,
           CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING)
                - n_chars AS BIGINT) AS token_offset,
           CAST((sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING)
                 - n_chars) // 2000 AS BIGINT) AS pack_id
    FROM documents
    """,
)
def q84_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing (GPT-style): documents laid
    end-to-end per source shard in doc_id order; pack_id =
    floor(start_offset / 2000). ONE shuffle (on source) then a linear
    windowed cumsum per shard — never a global order, so shards pack
    in parallel at any scale. Weight column is n_chars (the packing
    math is weight-agnostic)."""
    docs = _t(spark, sf_dir, "documents")
    return CO.pack_sequences(
        docs,
        partition_cols=["source"],
        order_col="doc_id",
        token_col="n_chars",
        budget=2000,
    ).select("doc_id", "source", "token_offset", "pack_id")



# --------------------------------------- 38. corpus prep: token entropy

@q(
    "q85_token_entropy",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS tok
        FROM documents),
    counts AS (
        SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6) AS DOUBLE)
               AS entropy_bits
    FROM counts GROUP BY doc_id
    """,
)
def q85_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    low-entropy tail is boilerplate/spam (complements Gopher rules,
    q72). Two map-side-combined shuffles on doc-prefixed keys; the
    H = log2(T) − Σn·log2 n / T identity avoids per-token division.
    Oracle recomputes token counts via unnest."""
    docs = _t(spark, sf_dir, "documents")
    return CO.token_entropy(docs)



# ------------------------------------ 39. corpus prep: token blacklist

@q(
    "q86_token_filter",
    """
    WITH kept AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '),
                           t -> length(t) >= 3
                                AND NOT list_contains(['the', 'a'], t))
                   AS toks
        FROM documents)
    SELECT doc_id,
           CAST(length(toks) AS BIGINT) AS n_kept_tokens,
           array_to_string(toks, ' ') AS clean_text
    FROM kept
    """,
)
def q86_token_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style in-document cleanup re-expressed at token granularity
    (this corpus is one line per doc): drop blacklisted/too-short
    tokens, reassemble. The filter() higher-order function with a
    literal lambda stays in whole-stage codegen — no explode, no
    shuffle, no UDF."""
    docs = _t(spark, sf_dir, "documents")
    return CO.token_filter(
        docs, blacklist=["the", "a"], min_len=3
    ).select("doc_id", "n_kept_tokens", "clean_text")



# ------------------------------- 40. corpus prep: per-group sampling

@q(
    "q87_group_sample",
    """
    SELECT doc_id, source, lang
    FROM documents
    QUALIFY row_number() OVER (
        PARTITION BY source
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 20
    """,
)
def q87_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source sample of exactly 20 docs: rank by
    md5(id) inside each group — reservoir-sampling semantics with no
    RNG state, identical rows on rerun/backfill (what a data-mixing
    stage needs). One shuffle on the group key; oracle is the same
    rank in DuckDB, so the sampled SET is hash-checked, not just its
    size."""
    docs = _t(spark, sf_dir, "documents")
    return CO.group_sample(
        docs, group_cols=["source"], id_col="doc_id", n=20
    ).select("doc_id", "source", "lang")



# ----------------------- 47. boilerplate n-gram detection (corpus-wide)

@q(
    "q94_boilerplate_ngrams",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS ngram
        FROM toks, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i) t
    ),
    freq AS (SELECT ngram, count(*) AS doc_freq FROM grams GROUP BY ngram)
    SELECT ngram, CAST(doc_freq AS BIGINT) AS doc_freq
    FROM freq
    ORDER BY doc_freq DESC, ngram
    LIMIT 20
    """,
)
def q94_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate detection: 5-grams ranked by the number
    of DISTINCT documents containing them — the pre-pass an LLM data
    pipeline runs to find repeated headers/footers/licenses worth
    stripping. Routed through ``corpus.boilerplate_ngrams`` (one scan,
    one map-side-combined shuffle). Exact lexicographic tie-break at
    equal doc_freq is what DuckDB computes."""
    from ingestao_dados_poli_spark.operators.corpus import boilerplate_ngrams

    docs = _t(spark, sf_dir, "documents")
    return boilerplate_ngrams(docs, n=5, top_k=20)



# --------------------- 50. real media decode (dependency-free codecs)

@q("q97_media_decode")
def q97_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL multimodal decode with no codec libs (rows-only:
    byte parsing isn't SQL-expressible): payloads are actual encoded
    P6 netpbm images, decoded pixel-for-pixel with numpy inside the
    same Arrow-batched mapInPandas plumbing the sha256 fake stands in
    for elsewhere — byte gen, decode, and strip-mean featurization all
    run distributed, zero driver involvement. The value contract
    (decode(encode(x)) == x, exact strip means) is pytest-verified in
    test_similarity_multimodal/test_layout."""
    media = MM.synthetic_ppm_media(spark, n=256, width=32, height=16)
    feats = MM.extract_image_features(
        media, dim=8, featurizer=MM.ppm_featurizer(8)
    )
    out = feats.select(
        "media_id",
        "width",
        "height",
        "n_bytes",
        F.round(F.element_at("features", 1), 6).alias("f_first"),
        F.round(F.element_at("features", 8), 6).alias("f_last"),
    )
    # Self-asserting (q129 pattern): ONE sampled payload is collected
    # (1.5 KB scalar probe) and re-decoded driver-side in PURE PYTHON —
    # independent header parse, raster walk, grayscale and strip means
    # with plain floats, no numpy, no shared code with the distributed
    # featurizer — so a decode/featurize regression in the Arrow path
    # cannot return plausible rows. Tolerance 2e-6 absorbs float32
    # (executor) vs float64 (probe) accumulation.
    raw = media.filter(F.col("media_id") == 11).select("payload").collect()
    got = out.filter(F.col("media_id") == 11).collect()
    payload = bytes(raw[0].payload)
    toks, i = [], 2
    while len(toks) < 3:
        while payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            i = payload.index(b"\n", i) + 1
            continue
        j = i
        while not payload[j : j + 1].isspace():
            j += 1
        toks.append(int(payload[i:j]))
        i = j
    i += 1
    w, h, _maxval = toks
    gray = [
        sum(payload[i + (r * w + c) * 3 + k] for k in range(3)) / 3.0 / 255.0
        for r in range(h)
        for c in range(w)
    ]
    def strip_mean(k: int, dim: int = 8) -> float:
        lo, hi = (w * k) // dim, max((w * (k + 1)) // dim, (w * k) // dim + 1)
        vals = [gray[r * w + c] for r in range(h) for c in range(lo, hi)]
        return sum(vals) / len(vals)
    if (
        len(got) != 1
        or abs(got[0].f_first - strip_mean(0)) > 2e-6
        or abs(got[0].f_last - strip_mean(7)) > 2e-6
    ):
        raise AssertionError(
            f"PPM decode self-check failed: got {got}, expected "
            f"({strip_mean(0):.6f}, {strip_mean(7):.6f})"
        )
    return out



# --------------------- 51. training-data mixture weights (temperature)

@q(
    "q98_mixture_weights",
    """
    WITH g AS (
      SELECT lang, source, count(*) AS n_docs
      FROM documents GROUP BY 1, 2
    ),
    w AS (
      SELECT lang, source, n_docs,
             pow(n_docs / sum(n_docs) OVER (), 0.5) AS wr
      FROM g
    )
    SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(round(wr / sum(wr) OVER (), 6) AS DOUBLE) AS mix_weight
    FROM w
    """,
)
def q98_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data-mixing weights per (lang, source) cell:
    w = p^alpha / sum(p^alpha) with alpha=0.5 — the standard upweighting
    of low-resource slices when composing a training mix. ONE raw scan
    (map-side-combined groupBy); the two global sums run as
    unpartitioned windows over the GROUPED table, whose cardinality is
    the mixture-cell count (langs x sources — config-bounded, dozens),
    so the single-partition window is over a handful of rows at any
    corpus size."""
    docs = _t(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    w_all = Window.partitionBy()
    g = g.withColumn(
        "_wr", F.pow(F.col("n_docs") / F.sum("n_docs").over(w_all), 0.5)
    )
    return g.select(
        "lang",
        "source",
        "n_docs",
        F.round(F.col("_wr") / F.sum("_wr").over(w_all), 6).alias("mix_weight"),
    )



# --------------------- 63. deterministic temperature-weighted sampling

@q(
    "q110_weighted_sample",
    """
    WITH g AS (
        SELECT lang, source, count(*) AS n_docs
        FROM documents GROUP BY 1, 2
    ),
    w AS (
        SELECT lang, source, n_docs,
               pow(n_docs / sum(n_docs) OVER (), 0.5) AS wr
        FROM g
    ),
    p AS (
        SELECT lang, source,
               least(1.0, 200.0 * (wr / sum(wr) OVER ()) / n_docs)
                   AS keep_prob
        FROM w
    ),
    d AS (
        SELECT d.lang AS lang, d.source AS source,
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    % 1048576) / 1048576.0 AS u,
               p.keep_prob AS keep_prob
        FROM documents d
        JOIN p ON d.lang = p.lang AND d.source = p.source
    )
    SELECT lang, source, CAST(count(*) AS BIGINT) AS n_kept
    FROM d WHERE u < keep_prob GROUP BY 1, 2
    """,
)
def q110_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize q98's temperature mixture as an ACTUAL deterministic
    subsample (corpus.weighted_sample): per-cell keep probabilities from
    the p^0.5 weights, membership by md5 unit hash — so DuckDB
    reproduces the EXACT same kept set row for row (hash-checked here),
    which is what makes a 100 TB training-mix materialization resumable
    and auditable. rand()-based sampleBy can't cross that bar."""
    docs = _t(spark, sf_dir, "documents")
    kept = CO.weighted_sample(
        docs,
        group_cols=["lang", "source"],
        id_col="doc_id",
        target_rows=200.0,
        alpha=0.5,
    )
    return kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_kept")
    )



# --------------------- 64. rolling median (percentile as window fn)

@q(
    "q111_rolling_median",
    """
    SELECT event_id, user_id,
           CAST(round(quantile_cont(value, 0.5) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
           ), 4) AS DOUBLE) AS rolling_median
    FROM events WHERE user_id < 50
    """,
)
def q111_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 10-event median per user — exact percentile as a WINDOW
    aggregate (Spark recomputes the frame per row; fine for bounded
    rows-frames, and the robust-statistics answer to q100's mean, which
    outliers drag). Deterministic ROWS frame via the (ts, event_id)
    tie-break; oracle uses DuckDB's quantile_cont with the identical
    frame and interpolation."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.percentile("value", F.lit(0.5)).over(w), 4).alias(
            "rolling_median"
        ),
    )



# --------------------- 81. k-anonymity / l-diversity privacy audit

@q(
    "q139_k_anonymity",
    """
    SELECT c_mktsegment, c_nationkey,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
                AS BIGINT) AS l_div,
           count(*) >= 10 AS satisfies_k
    FROM customer
    GROUP BY c_mktsegment, c_nationkey
    """,
)
def q139_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical re-identification audit (`operators/privacy.py`):
    k-anonymity + l-diversity per quasi-identifier group over customer
    (QI = segment x nation, sensitive = banded account balance). One
    map-side-combined shuffle. Complements q53's literal PII scrub: scrubbing
    removes identifiers, this measures the JOIN-attack surface of what
    remains — the check a training-data release gate runs."""
    from ingestao_dados_poli_spark.operators import privacy as PV

    cust = _t(spark, sf_dir, "customer").withColumn(
        "acct_band", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    rep = PV.k_anonymity_report(
        cust, ["c_mktsegment", "c_nationkey"], k=10, sensitive_col="acct_band"
    )
    return rep.select(
        "c_mktsegment",
        "c_nationkey",
        F.col("n").cast("long").alias("n"),
        F.col("l_div").cast("long").alias("l_div"),
        "satisfies_k",
    )



# ------------- 97. cross-table reconciliation report

@q(
    "q155_order_reconciliation",
    """
    WITH li AS (
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS li_net,
               count(*) AS n_lines
        FROM lineitem GROUP BY l_orderkey),
    classed AS (
        SELECT o.o_orderkey,
               CASE
                 WHEN li.l_orderkey IS NULL THEN 'no_lines'
                 WHEN abs(o.o_totalprice - li.li_net) <= 0.01 * o.o_totalprice
                      THEN 'reconciled'
                 ELSE 'mismatch'
               END AS status
        FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey)
    SELECT status, CAST(count(*) AS BIGINT) AS n_orders
    FROM classed GROUP BY status
    """,
)
def q155_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table financial reconciliation — the referential CONTENT
    check beyond q105's key-existence FK check: every order's header
    total against the sum of its lines' net amounts, classified
    reconciled / mismatch / no_lines with a relative tolerance. One
    map-side-combined pre-aggregation of the fact side, then a join at
    ORDER grain (never line grain) — the pre-agg-before-join ordering
    that keeps the join input |orders|, not |lineitem|, at 100 TB. The
    report is the per-status count a close-of-books gate consumes
    (whatever the synthetic data's actual reconciliation rate, the
    CLASSIFICATION is deterministic — that is what the oracle checks).
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    li_net = li.groupBy("l_orderkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("li_net")
    )
    classed = orders.join(
        li_net, orders.o_orderkey == li_net.l_orderkey, "left"
    ).select(
        F.when(F.col("l_orderkey").isNull(), "no_lines")
        .when(
            F.abs(F.col("o_totalprice") - F.col("li_net"))
            <= 0.01 * F.col("o_totalprice"),
            "reconciled",
        )
        .otherwise("mismatch")
        .alias("status")
    )
    return classed.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )



# ------------- 100. tokenize to vocabulary ids

@q(
    "q158_tokenize_ids",
    """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents),
    vocab AS (
        SELECT w, row_number() OVER (ORDER BY count(*) DESC, w ASC) AS id
        FROM tok GROUP BY w
        ORDER BY count(*) DESC, w ASC LIMIT 10),
    mapped AS (
        SELECT t.doc_id, coalesce(v.id, 0) AS id
        FROM tok t LEFT JOIN vocab v ON t.w = v.w)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
           CAST(sum(id) AS BIGINT) AS ids_checksum
    FROM mapped GROUP BY doc_id
    """,
)
def q158_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenize-to-ids step between corpus prep and sequence
    packing: build a frequency-ranked vocabulary (top-10 here so the
    unknown path is exercised; production vocabs just raise the
    limit), broadcast it, and map every token to its id with unknowns
    at 0. Two shuffles total — the vocab count and the per-doc
    rollup; the token->id join is a broadcast of the (tiny by
    definition) vocab, so the corpus never shuffles for the mapping.
    Output is per-doc (n_tokens, n_unk, ids_checksum) — the checksum
    form keeps the oracle order-insensitive."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    w_rank = Window.orderBy(F.col("cnt").desc(), F.col("w").asc())
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("id", F.row_number().over(w_rank))
        .filter(F.col("id") <= 10)
        .select("w", "id")
    )
    mapped = tok.join(F.broadcast(vocab), "w", "left").select(
        "doc_id", F.coalesce(F.col("id"), F.lit(0)).alias("id")
    )
    return mapped.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("id") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_unk"),
        F.sum("id").cast("long").alias("ids_checksum"),
    )



# ------------- 127. quality-history trend over versioned report snapshots

@q(
    "q185_quality_trend",
    """
    WITH v1 AS (
        SELECT count(*) FILTER (WHERE lang IS NULL) AS null_lang,
               count(*) FILTER (WHERE n_chars < 30) AS short_docs,
               count(*) AS row_count
        FROM documents),
    v2 AS (
        SELECT count(*) FILTER (WHERE doc_id % 5 = 0 OR lang IS NULL)
                   AS null_lang,
               count(*) FILTER (WHERE n_chars < 30) AS short_docs,
               count(*) AS row_count
        FROM documents)
    SELECT 'null_lang' AS metric,
           CAST(v1.null_lang AS BIGINT) AS v1_violations,
           CAST(v2.null_lang AS BIGINT) AS v2_violations,
           CAST(v2.null_lang - v1.null_lang AS BIGINT) AS delta
    FROM v1, v2
    UNION ALL
    SELECT 'short_docs',
           CAST(v1.short_docs AS BIGINT),
           CAST(v2.short_docs AS BIGINT),
           CAST(v2.short_docs - v1.short_docs AS BIGINT)
    FROM v1, v2
    """,
)
def q185_quality_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality HISTORY, not just a point-in-time report: run the suite
    against two data versions (v2 simulates an upstream regression —
    every 5th doc loses its lang tag), persist each GX-shaped report
    as a snapshot of a versioned quality-history table, then read the
    history back and emit the per-metric violation TREND — the
    time-series a data-SLO dashboard alerts on, derived entirely from
    committed report snapshots (one tiny config-sized DataFrame per
    run, never a rescan of the data). Oracled against direct
    recomputation of both versions' violation counts."""
    import shutil as _shutil

    from ingestao_dados_poli_spark import quality as Q_
    from ingestao_dados_poli_spark.sources import versioned as V

    base = _scratch_dir("q185_qh", sf_dir)
    hist = base + "/quality_history"
    _shutil.rmtree(base, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents")
    degraded = docs.withColumn(
        "lang",
        F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(F.col("lang")),
    )
    suite = Q_.Suite(
        "docs_slo",
        [Q_.not_null("lang"), Q_.between("n_chars", 30, float("inf"))],
    )
    metric_names = ["null_lang", "short_docs"]
    for ver, frame in ((1, docs), (2, degraded)):
        report = Q_.validate(frame, suite)
        rows = [
            (ver, metric_names[i], int(res.get("unexpected_count", 0)))
            for i, res in enumerate(report["results"])
        ]
        # _lit_df, not createDataFrame: publish() parquet-writes this
        # snapshot, and a Python-RDD-backed tiny write costs an erratic
        # 0.5-6 s on this box vs ~0.2 s for the JVM-literal plan
        snap = _lit_df(
            spark, "run long, metric string, violations long", rows
        )
        V.publish(spark, snap, hist)
    history = V.read_version(spark, hist, 1).unionByName(
        V.read_version(spark, hist, 2)
    )
    pivoted = (
        history.groupBy("metric")
        .pivot("run", [1, 2])
        .agg(F.first("violations"))
        .select(
            "metric",
            F.col("1").cast("long").alias("v1_violations"),
            F.col("2").cast("long").alias("v2_violations"),
            (F.col("2") - F.col("1")).cast("long").alias("delta"),
        )
    )
    return pivoted



# ------------- 128. per-source phrase profile (grouped bigram top-k)

@q(
    "q186_source_top_bigrams",
    """
    WITH toks AS (
        SELECT source, doc_id, string_split(text, ' ') AS ws
        FROM documents),
    bg AS (
        SELECT source,
               ws[i] || ' ' || ws[i + 1] AS bigram
        FROM toks, unnest(generate_series(1, len(ws) - 1)) AS g(i)),
    counted AS (
        SELECT source, bigram, count(*) AS n
        FROM bg GROUP BY source, bigram),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY source
                                     ORDER BY n DESC, bigram ASC) AS rn
        FROM counted)
    SELECT source, bigram, CAST(n AS BIGINT) AS n
    FROM ranked WHERE rn <= 3
    """,
)
def q186_source_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source phrase profiling: top-3 bigrams per source — the
    per-domain signature a corpus-mixing report shows next to the
    GLOBAL vocabulary (q71). In-row bigram expansion via
    transform(sequence) — no posexplode+lead self-alignment — then one
    map-side-combined (source, bigram) count shuffle and a window over
    the already-aggregated counts (window input is |distinct bigrams|,
    never |tokens|). Exact lexicographic tie-break, same as DuckDB's."""
    # fan_out: the in-row bigram expansion is the expensive stage and a
    # one-row-group source scan would run it on a single core (§2.5).
    docs = fan_out(_t(spark, sf_dir, "documents").select("source", "text"))
    ws = F.split(F.col("text"), " ")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(ws, i), F.element_at(ws, i + 1)
        ),
    )
    counted = (
        docs.select("source", F.explode(bigrams).alias("bigram"))
        .groupBy("source", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n").desc(), F.col("bigram").asc()
    )
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("source", "bigram", F.col("n").cast("long").alias("n"))
    )



# ------------- 129. monthly median trend per priority (grouped quantiles)

@q(
    "q187_monthly_median_trend",
    """
    SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR)
               AS month,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5)
                AS DOUBLE) AS median_cents
    FROM orders
    WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
    GROUP BY 1, 2
    """,
)
def q187_monthly_median_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust central-tendency trend: monthly MEDIAN order value per
    priority (medians don't chase the heavy tail averages do — the
    metric a pricing dashboard actually wants). A plain grouped exact
    percentile — one map-side-combined shuffle on (month, priority),
    NO window — with the year filter pushed to the scan. Computed over
    INTEGER CENTS: an even-count median interpolates to k or exactly
    k.5, both binary-exact doubles, so the engines match with NO
    rounding guard (rounding a 2-dp-valued midpoint is the one place
    round(x, 2) itself is ulp-unstable — found by this query's first
    oracle run). The 100 TB swap is percentile_approx (q64's
    documented trade)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    return (
        orders.groupBy(
            F.date_trunc("month", "o_orderdate")
            .cast("date")
            .cast("string")
            .alias("month"),
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.percentile(
                F.round(F.col("o_totalprice") * 100).cast("long"), F.lit(0.5)
            )
            .cast("double")
            .alias("median_cents"),
        )
    )



