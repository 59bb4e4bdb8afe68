"""Training-corpus preparation operators: chunking, deterministic
splits, sequence packing, entropy scoring, token filtering, per-group
sampling.

These are the ops a 100 TB LLM-data pipeline runs between raw ingest
and tokenizer sharding. None exists in the reference (a coursework ETL
— see SURVEY §2 scope note); they extend the engine the way
`operators/dedup.py` does, and every one is expressed with scan-side
built-ins + windowed aggregation so Catalyst keeps them in
whole-stage codegen:

- no Python UDFs anywhere in this module;
- no driver collects; every op returns an unexecuted DataFrame;
- windows are PARTITIONED (per source/group), never global — a global
  ORDER BY window funnels 100 TB through one task, so `pack_sequences`
  requires explicit partition columns and packs per stream shard,
  which is how real pipelines shard anyway (per source/dump/crawl).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ingestao_dados_poli_spark.partitioning import fan_out


def chunk_documents(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int,
    overlap: int = 0,
) -> DataFrame:
    """Split each document into fixed-size character windows that
    overlap by ``overlap`` chars (context-window prep for embedding /
    tokenizer stages).

    Chunk k starts at 1 + k*stride (stride = chunk_size - overlap) and
    takes ``chunk_size`` chars; the last chunk is short rather than
    padded. Empty documents yield one empty chunk (the row survives,
    which keeps doc-level joins lossless).

    Scale shape: `sequence` + `explode` + `substring` are all
    scan-side codegen — zero shuffles, output rows ≈ input_bytes /
    stride regardless of document skew. The per-row `sequence` array
    holds chunk START OFFSETS (≤ len/stride ints), never the chunks
    themselves, so peak row memory is O(len + len/stride), not
    O(len * chunks)."""
    if overlap >= chunk_size:
        raise ValueError(
            f"overlap ({overlap}) must be < chunk_size ({chunk_size})"
        )
    stride = chunk_size - overlap
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.length(F.col(text_col)), F.lit(1)),
        F.lit(stride),
    )
    return (
        df.withColumn("chunk_start", F.explode(starts))
        .withColumn(
            "chunk_text",
            F.substring(F.col(text_col), F.col("chunk_start"), chunk_size),
        )
        .withColumn(
            "chunk_id",
            ((F.col("chunk_start") - F.lit(1)) / F.lit(stride)).cast("int"),
        )
        .drop(text_col)
    )


def hash_bucket(col: Column, n_buckets: int = 4096) -> Column:
    """Deterministic uniform bucket in [0, n_buckets) from the md5 of a
    column's string form.

    md5 (not xxhash64) because every engine computes the identical
    digest — the split a row lands in is reproducible across Spark,
    DuckDB, and any future backend, which is the property a train/test
    split must have. First 8 hex chars = 32 uniform bits, plenty for
    any practical bucket count; the cost is one scan-side hash."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % n_buckets
    )


def hash_split(
    df: DataFrame,
    *,
    id_col: str,
    splits: dict[str, float],
    split_col: str = "split",
    n_buckets: int = 4096,
) -> DataFrame:
    """Assign each row to a named split (train/val/test/...) by hashing
    its id — deterministic, order-independent, and stable when the
    dataset grows (a row's split never changes as other rows arrive,
    unlike randomSplit which reshuffles membership on every change).

    ``splits`` maps name → weight; weights are normalized. Assignment
    is by consecutive bucket ranges in iteration order. Scan-side only
    — no shuffle, no RNG state."""
    total = sum(splits.values())
    if total <= 0:
        raise ValueError("split weights must sum > 0")
    bucket = hash_bucket(F.col(id_col), n_buckets)
    expr: Column | None = None
    upper = 0.0
    names = list(splits)
    for name in names[:-1]:
        upper += splits[name] / total * n_buckets
        cond = bucket < int(round(upper))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(names[-1])
    return df.withColumn(split_col, expr)


def pack_sequences(
    df: DataFrame,
    *,
    partition_cols: Sequence[str],
    order_col: str,
    token_col: str,
    budget: int,
    pack_col: str = "pack_id",
    offset_col: str = "token_offset",
) -> DataFrame:
    """Concat-then-chunk sequence packing: lay documents end-to-end in
    deterministic ``order_col`` order within each partition group and
    assign pack_id = floor(start_offset / budget) — the packing used
    when training corpora are concatenated and sliced into fixed-size
    context windows (GPT-style). A document whose tokens straddle a
    budget boundary belongs to the pack where it STARTS.

    Scale shape: one window per partition group (shuffle on
    ``partition_cols``, then a linear cumulative sum). Partition
    columns are required — packing is per stream shard (source, dump,
    shard_id), never a global order, so the window parallelizes across
    groups. Use enough groups that each holds ≲ executor-memory worth
    of rows."""
    if not partition_cols:
        raise ValueError(
            "pack_sequences requires partition_cols: a global-order pack "
            "would serialize the corpus through one task; pack per shard"
        )
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offset = (F.sum(F.col(token_col)).over(w) - F.col(token_col)).cast("bigint")
    return df.withColumn(offset_col, offset).withColumn(
        pack_col, F.floor(F.col(offset_col) / budget).cast("bigint")
    )


def token_entropy(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "entropy_bits",
    round_to: int | None = 6,
) -> DataFrame:
    """Shannon entropy (bits) of each document's whitespace-token
    distribution — a cheap quality/diversity signal: boilerplate and
    keyword-stuffed spam score low, natural prose scores high
    (complements the Gopher-style rule filters in functions/text.py).

    Distributed shape: explode tokens → count per (doc, token) →
    -Σ p·log2 p per doc. Two shuffles, both on doc-prefixed keys with
    map-side partial aggregation, so traffic after the first combine
    is bounded by DISTINCT tokens per doc, not token instances. All
    JVM built-ins — the explode never leaves codegen. Documents with
    zero tokens drop out (inner explode); left-join the source if
    every doc must survive."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
        ).alias("_tok"),
    )
    counts = toks.groupBy(id_col, "_tok").agg(F.count(F.lit(1)).alias("_n"))
    totals = counts.groupBy(id_col).agg(
        F.sum("_n").alias("_total"),
        F.sum(F.col("_n") * F.log2("_n")).alias("_nlogn"),
    )
    # H = log2(T) - (Σ n·log2 n)/T  — single pass, no per-token division.
    ent = F.log2("_total") - F.col("_nlogn") / F.col("_total")
    if round_to is not None:
        ent = F.round(ent, round_to)
    return totals.select(
        F.col(id_col),
        F.col("_total").cast("bigint").alias("n_tokens"),
        ent.cast("double").alias(out_col),
    )


def token_filter(
    df: DataFrame,
    *,
    text_col: str = "text",
    blacklist: Sequence[str] = (),
    min_len: int = 1,
    out_col: str = "clean_text",
) -> DataFrame:
    """C4-style in-document cleanup: drop blacklisted and too-short
    whitespace tokens, reassemble the text, and report how many tokens
    survived (C4 drops lines with bad words; this corpus is one line
    per document, so the unit of removal is the token).

    Scan-side only: `filter` higher-order function with a literal
    lambda stays in codegen — no explode, no shuffle, no UDF. The
    blacklist is a Column literal array; for blacklists too large for
    a literal (>~1e3 terms) use a broadcast join against an exploded
    token table instead."""
    bl = F.array(*[F.lit(w) for w in blacklist])
    kept = F.filter(
        F.split(F.col(text_col), " "),
        lambda t: (F.length(t) >= min_len) & ~F.array_contains(bl, t),
    )
    return df.withColumn(out_col, F.array_join(kept, " ")).withColumn(
        "n_kept_tokens", F.size(kept).cast("bigint")
    )


def group_sample(
    df: DataFrame,
    *,
    group_cols: Sequence[str],
    id_col: str,
    n: int,
    rank_col: str = "_sample_rank",
) -> DataFrame:
    """Deterministic per-group sample of exactly min(n, group size)
    rows: rank rows inside each group by md5(id) — a uniform,
    reproducible pseudo-random order — and keep the first n.
    Reservoir-sampling semantics without RNG state, so reruns and
    backfills pick identical rows (what a data-mixing stage needs;
    contrast sampleBy, which is fraction-based and run-stable only
    under identical partitioning).

    Scale shape: one shuffle on group_cols; rank is a windowed
    row_number. Skewed groups bound the task size at O(largest
    group) — for pathological single-group corpora pre-salt the
    group key."""
    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= n)
        .drop(rank_col)
    )


def weighted_sample(
    df: DataFrame,
    *,
    group_cols: list[str],
    id_col: str,
    target_rows: float,
    alpha: float = 0.5,
    unit_buckets: int = 1 << 20,
) -> DataFrame:
    """Temperature-rebalanced corpus subsample: keep each row with a
    per-group probability chosen so expected group sizes follow the
    p^alpha mixture weights (alpha < 1 upweights low-resource groups),
    totalling ~``target_rows``. Membership is DETERMINISTIC — a row is
    kept iff its md5 unit hash (cf. ``hash_bucket``) falls under the
    group's keep probability — so reruns, appends, and other engines
    reproduce the same sample (the property a training-mix materializer
    needs for resumable 100 TB backfills; rand()-based sampling gives a
    different corpus every run).

    Scale shape: ONE raw scan for group counts (windows run over the
    grouped, config-cardinality mixture table), the keep-prob table
    broadcasts back, and the filter is scan-side hash math.
    """
    from pyspark.sql import Window

    g = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("_n"))
    w_all = Window.partitionBy()
    g = g.withColumn(
        "_wr", F.pow(F.col("_n") / F.sum("_n").over(w_all), alpha)
    )
    probs = g.select(
        *group_cols,
        F.least(
            F.lit(1.0),
            F.lit(float(target_rows))
            * (F.col("_wr") / F.sum("_wr").over(w_all))
            / F.col("_n"),
        ).alias("_keep_prob"),
    )
    u = hash_bucket(F.col(id_col), unit_buckets) / F.lit(float(unit_buckets))
    return (
        df.join(F.broadcast(probs), group_cols)
        .filter(u < F.col("_keep_prob"))
        .drop("_keep_prob")
    )


def _ngram_expr(tokens: Column, n: int) -> Column:
    """In-row n-gram expansion: array of space-joined n-grams of the
    token array — transform over sequence, no UDF, no explode yet."""
    return F.transform(
        F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
        lambda i: F.array_join(F.slice(tokens, i, n), " "),
    )


def boilerplate_ngrams(
    df: DataFrame,
    *,
    n: int = 5,
    top_k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide boilerplate detection: word n-grams ranked by the
    number of DISTINCT documents containing them — the pre-pass an LLM
    data pipeline runs to find repeated headers/footers/licenses worth
    stripping. Returns (ngram, doc_freq), ``top_k`` rows.

    Each document's grams are deduped IN-ROW (``array_distinct`` over
    the gram array), so the doc-frequency groupBy is the ONLY shuffle —
    a cross-row ``distinct`` before counting would be a second full
    shuffle that the in-row dedup already guarantees is a no-op. The
    groupBy partial-aggregates map-side, so the shuffle carries
    per-partition distinct grams, lz4-compressed. Ties at equal
    doc_freq break lexicographically (what the q94 oracle checks).
    """
    # NOTE(r07): fan_out here was A/B-measured a 1.35x REGRESSION on
    # q94 (the repartition exchange costs more than the gram expansion
    # wins back at this operator's volumes) — left as-is deliberately.
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
    ).filter(F.size("_w") >= n)
    grams = toks.select(
        id_col, F.explode(F.array_distinct(_ngram_expr(F.col("_w"), n))).alias("ngram")
    )
    freq = grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("doc_freq"))
    return freq.orderBy(F.col("doc_freq").desc(), F.col("ngram")).limit(top_k)


def dedup_spans(
    df: DataFrame,
    *,
    span_words: int = 13,
    max_doc_freq: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_spans: bool = False,
) -> DataFrame:
    """Span-level exact-substring dedup with document REASSEMBLY — the
    simplified form of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better") that a
    DataFrame engine can run at corpus scale: cut every document into
    consecutive ``span_words``-word spans, count each span's distinct-
    document frequency corpus-wide, DELETE every span occurring in more
    than ``max_doc_freq`` documents, and stitch the survivors back into
    per-document text. Unlike whole-doc dedup (operators/dedup.py) this
    removes the duplicated PASSAGE (boilerplate header, license block,
    templated footer) while keeping the unique remainder of every doc.

    Returns (id_col, clean_text, n_spans, n_removed) — one row per
    input document, ``clean_text = ''`` when everything was removed.

    Scale shape (3 shuffles, all map-side combined, text never
    collected):
      1. span→doc-freq groupBy: per-partition partial agg means the
         exchange carries each partition's DISTINCT spans once;
      2. left_anti join of spans against the over-threshold span set —
         that set is the DUPLICATED sliver of the corpus, so AQE
         broadcasts it when small (the common case); a plain shuffled
         anti-join when not;
      3. reassembly groupBy(doc): collect_list of (idx, span) structs,
         sorted IN-ROW by array_sort — never a window, never a global
         sort.
    ``hash_spans=True`` swaps the freq-count + anti-join keys for
    ``xxhash64(span)`` so shuffles 1-2 carry 8-byte keys instead of
    span text — the 100 TB setting; an xxhash64 collision there can
    delete an innocent span (false positive ~n²/2⁶⁴ — negligible, and
    dedup-safe: it only ever REMOVES extra text). Exact and hashed
    paths are equivalence-tested in test_corpus.py; the oracled q137
    uses the exact path (DuckDB computes no xxhash64).
    """
    if span_words < 1:
        raise ValueError(f"span_words must be >= 1, got {span_words}")
    # NULL text canonicalizes to '' BEFORE the split: split(NULL) is
    # NULL, size(NULL) is -1, and sequence(0, n_spans-1) would then be
    # the DESCENDING [0, -1] — two phantom NULL-span rows per null doc
    # and a negative n_removed in the report. '' follows the normal
    # single-empty-span path instead.
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.split(F.coalesce(F.col(text_col), F.lit("")), " ").alias("_w"),
    )
    n_spans = F.ceil(F.size("_w") / F.lit(span_words)).cast("long")
    spans_arr = F.transform(
        F.sequence(F.lit(0), (n_spans - 1).cast("int")),
        lambda i: F.array_join(
            F.slice(F.col("_w"), i * span_words + 1, span_words), " "
        ),
    )
    spans = toks.select(
        "_id",
        n_spans.alias("_n_spans"),
        F.posexplode(spans_arr).alias("_idx", "_span"),
    )
    key = F.xxhash64("_span") if hash_spans else F.col("_span")
    spans = spans.withColumn("_k", key)
    dup_keys = (
        spans.groupBy("_k")
        .agg(F.count_distinct("_id").alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("_k")
    )
    kept = spans.join(dup_keys, "_k", "left_anti")
    reassembled = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "_span"))),
                lambda s: s["_span"],
            ),
            " ",
        ).alias("_clean"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    base = toks.select("_id", n_spans.alias("_n_spans"))
    return (
        base.join(reassembled, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("_clean"), F.lit("")).alias("clean_text"),
            F.col("_n_spans").alias("n_spans"),
            (F.col("_n_spans") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def build_inverted_index(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Term -> document posting table: one row per DISTINCT (term, doc)
    — the secondary-index structure that answers keyword lookups
    without a corpus scan. In-row word dedup (array_distinct) before
    the explode keeps the posting build's shuffle at distinct-pairs
    size. At 100 TB the index is WRITTEN partitioned/bucketed by a
    term hash so a lookup prunes to the probed terms' partitions; the
    build is one scan + one map-side-combined shuffle, and the index
    is incrementally maintainable exactly like the fingerprint store
    (append per-batch postings as delta snapshots)."""
    return df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.col(text_col), " "))
        ).alias("term"),
    )


def lookup_all_terms(
    index: DataFrame,
    terms: list[str],
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """AND-semantics keyword lookup over a posting table: documents
    containing EVERY probe term. The probe list is a literal filter
    (scan-side, partition-pruning when the index is term-partitioned);
    the having-count trick turns k-way posting intersection into ONE
    group-by — no k-1 chained joins, no skew from a hot term's long
    posting list dominating a join side."""
    if not terms:
        raise ValueError("lookup_all_terms needs at least one term")
    probe = [t for t in set(terms)]
    hits = index.filter(F.col("term").isin(probe))
    return (
        hits.groupBy(id_col)
        .agg(F.count_distinct("term").alias("_nt"))
        .filter(F.col("_nt") == len(probe))
        .select(id_col)
    )


def sentence_first_occurrence(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: Sequence[str] = (),
    boundary_regex: str = r"[.!?]+\s+",
) -> DataFrame:
    """Global SENTENCE-level exact dedup marks (the Lee et al. 2022
    "Deduplicating Training Data" exact-substring regime at sentence
    granularity): split every document on sentence boundaries, and
    mark each normalized sentence's FIRST occurrence — ordered by
    (id, position) so the outcome is deterministic, not
    arrival-ordered — as the keeper. Returns one row per non-empty
    sentence: (id, pos, sent, is_first, *carry_cols); callers filter
    ``is_first`` and re-assemble with ``array_join(collect_list(...))``
    or aggregate removal stats.

    Scale shape: ONE shuffle, keyed by the sentence text itself (the
    only key that can prove global uniqueness); the split/normalize is
    in-row codegen, and the window carries no frame state beyond
    row_number. Skew lives exactly where duplication lives — a
    boilerplate sentence repeated 10^8 times lands on one reducer —
    but each row is a sentence, not a document, so the hot group
    streams through row_number without buffering (no collect_list
    anywhere). Dedup decisions never leave the executors.
    """
    sents = (
        df.select(
            F.col(id_col),
            *[F.col(c) for c in carry_cols],
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), boundary_regex)
            ).alias("pos", "_raw"),
        )
        .select(
            id_col,
            *carry_cols,
            (F.col("pos") + 1).alias("pos"),
            F.trim(
                F.lower(F.regexp_replace(F.col("_raw"), r"[.!?]+\s*$", ""))
            ).alias("sent"),
        )
        .where(F.col("sent") != "")
    )
    w = Window.partitionBy("sent").orderBy(id_col, "pos")
    return sents.withColumn(
        "is_first", F.row_number().over(w) == 1
    )


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    *,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval (Robertson/Spärck Jones, k1=1.2 b=0.75 — the
    classic defaults) of the top-``k`` documents for a bag-of-words
    query, with every score an EXACT integer so ranking is
    bit-reproducible across engines and replays. The only float is the
    idf, quantized once per term to millibits
    (``round(1000*log2(2(N+1)/(2df+1)))`` — log2 of small-integer
    ratios, stable cross-libm); the tf saturation term is then a pure
    bigint closed form: with k1=6/5, b=3/4,

        tf_part = 44*tf*SD / (20*tf*SD + 6*SD + 18*dl*N)

    (SD = corpus token count, N = doc count, dl = doc length), so
    ``score_milli = sum_t idf_milli(t)*44*tf*SD div (...)`` is exact
    integer arithmetic end-to-end.

    Scale shape: one corpus-stats aggregation (1 row, broadcast), one
    map-side-combined (doc, term) tf aggregation over ONLY the query
    terms (the explode filters before shuffling, so the shuffle carries
    |query| rows per doc max, not the vocabulary), a broadcast join of
    the |query|-row df table, and a global top-k window over docs that
    matched at least one term. No vocabulary-sized shuffle anywhere.
    """
    terms = [t.lower() for t in query_terms]
    words = F.split(
        F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
    )
    docs = df.select(
        F.col(id_col), words.alias("_w"), F.size(words).alias("dl")
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        docs.select(
            id_col, "dl", F.explode("_w").alias("term")
        )
        .where(F.col("term").isin(terms))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(
        F.count_distinct(id_col).alias("df_t")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf_milli",
            F.round(
                (
                    F.log2(2 * F.col("n_docs") + 2)
                    - F.log2(2 * F.col("df_t") + 1)
                )
                * 1000
            ).cast("long"),
        )
        .withColumn(
            "score_milli",
            F.expr(
                "(idf_milli * 44 * tf * sum_dl)"
                " div (20 * tf * sum_dl + 6 * sum_dl + 18 * dl * n_docs)"
            ),
        )
        .groupBy(id_col)
        .agg(
            F.sum("score_milli").alias("score_milli"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    # TakeOrderedAndProject first (each partition keeps k rows, driver
    # merges k*P — no full sort, no full shuffle), THEN rank the <=k
    # survivors; the single-partition row_number window only ever sees
    # k rows, so the global-window trap never materializes.
    top = scored.orderBy(
        F.col("score_milli").desc(), F.col(id_col).asc()
    ).limit(k)
    w = Window.orderBy(F.col("score_milli").desc(), F.col(id_col).asc())
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(
            id_col,
            F.col("rank").cast("long").alias("rank"),
            F.col("score_milli").cast("long").alias("score_milli"),
            F.col("n_terms_hit").cast("long").alias("n_terms_hit"),
        )
    )


def repetition_profile(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: Sequence[str] = (),
    top_word_max_milli: int = 300,
    top_bigram_max_milli: int = 200,
    dup_5gram_max_milli: int = 150,
) -> DataFrame:
    """Gopher-style within-document repetition filters (Rae et al.
    2021 "Scaling Language Models", Table A1): per document, the
    fraction of tokens claimed by the single most frequent word, by
    the most frequent bigram, and by duplicate (non-first) 5-gram
    instances. Fractions are exact integer permille
    (``floor(1000*x/n)``), thresholds are the Gopher defaults scaled
    the same way, and ``flagged`` is true when any fraction breaches
    its cap — the standard pre-training cut for pathological
    boilerplate/templating that survives document-level dedup.

    Returns one row per document: (id, *carry, n_words,
    top_word_milli, top_bigram_milli, dup_5gram_milli, flagged).

    Scale shape: grams explode in-row, then TWO map-side-combined
    aggregations — (doc, gram) counts, then per-doc max/sum — both
    keyed by the document, so group size is bounded by document
    length, never corpus size. No windows, no collect_list of the
    corpus, no Python. A 10k-word web page costs 30k shuffle rows
    before map-side combine collapses repeated grams; hot boilerplate
    grams do NOT concentrate (the doc id is in the key).
    """
    words = F.split(
        F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
    )
    # fan_out BEFORE the gram explosion: the tokenize + 3-way gram
    # transform is the expensive stage, and an under-split source (one
    # row group) would otherwise run it on a single core (guide §2.5
    # input skew; no-op when the scan is already parallel).
    base = fan_out(df.select(F.col(id_col), *[F.col(c) for c in carry_cols], F.col(text_col))).select(
        F.col(id_col), *[F.col(c) for c in carry_cols], words.alias("_w")
    ).withColumn("n_words", F.size("_w"))

    def grams(n: int) -> Column:
        if n == 1:
            return F.col("_w")
        return F.expr(
            f"transform(sequence(1, greatest(size(_w) - {n - 1}, 0)),"
            f" i -> array_join(slice(_w, i, {n}), ' '))"
        )

    exploded = base.select(
        id_col,
        *carry_cols,
        "n_words",
        F.explode(
            F.flatten(
                F.array(
                    F.transform(grams(1), lambda g: F.struct(F.lit(1).alias("n"), g.alias("g"))),
                    F.transform(grams(2), lambda g: F.struct(F.lit(2).alias("n"), g.alias("g"))),
                    F.transform(grams(5), lambda g: F.struct(F.lit(5).alias("n"), g.alias("g"))),
                )
            )
        ).alias("gr"),
    ).select(
        id_col, *carry_cols, "n_words",
        F.col("gr.n").alias("n"), F.col("gr.g").alias("g"),
    ).where(F.col("g") != "")
    counts = exploded.groupBy(id_col, *carry_cols, "n_words", "n", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = counts.groupBy(id_col, *carry_cols, "n_words").agg(
        F.max(F.when(F.col("n") == 1, F.col("c"))).alias("top_word"),
        F.max(F.when(F.col("n") == 2, F.col("c") * 2)).alias("top_bigram_words"),
        F.sum(F.when(F.col("n") == 5, F.col("c") - 1).otherwise(0)).alias(
            "dup_5gram_extra"
        ),
        F.sum(F.when(F.col("n") == 5, F.lit(1)).otherwise(0)).alias("n_5grams"),
    )
    out = per_doc.select(
        id_col,
        *carry_cols,
        F.col("n_words").cast("long").alias("n_words"),
        F.expr("coalesce(top_word, 0L) * 1000 div n_words").alias(
            "top_word_milli"
        ),
        F.expr(
            "least(coalesce(top_bigram_words, 0L), n_words) * 1000"
            " div n_words"
        ).alias("top_bigram_milli"),
        F.expr(
            "CASE WHEN n_5grams > 0"
            " THEN dup_5gram_extra * 1000 div n_5grams ELSE 0L END"
        ).alias("dup_5gram_milli"),
    )
    return out.withColumn(
        "flagged",
        (F.col("top_word_milli") > top_word_max_milli)
        | (F.col("top_bigram_milli") > top_bigram_max_milli)
        | (F.col("dup_5gram_milli") > dup_5gram_max_milli),
    )


def content_defined_chunks(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: Sequence[str] = (),
    modulus: int = 16,
) -> DataFrame:
    """Content-defined chunking (the word-level analog of Rabin/FastCDC
    storage dedup): a chunk boundary falls AFTER any word whose
    md5-derived hash is 0 mod ``modulus`` (expected chunk length =
    ``modulus`` words). Because boundaries depend only on local
    content, inserting or deleting a word re-chunks ONLY the
    neighborhood — unlike fixed-size chunking where one edit shifts
    every downstream chunk — which is what makes chunk-hash dedup
    robust for incremental corpus refreshes. Returns one row per
    chunk: (id, *carry, chunk_idx 1.., chunk_words, chunk_hash).

    Scale shape: boundary flags, prefix positions, and chunk slicing
    are ALL in-row array expressions (zero shuffle, whole-stage
    codegen); only the final explode multiplies rows, bounded by
    words/modulus per doc. Chunk hashes ride with rows — cross-doc
    dedup is then one map-side-combined agg on the hash.
    """
    words = F.split(
        F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
    )
    h = (
        "cast(conv(substring(md5(element_at(_w, i)), 1, 15), 16, 10)"
        " as bigint)"
    )
    # fan_out: the per-word md5 boundary scan + chunk slicing is the
    # heavy stage; parallelize it instead of running on the scan's
    # (possibly single) split (guide §2.5; no-op on parallel inputs).
    base = fan_out(df.select(F.col(id_col), *[F.col(c) for c in carry_cols], F.col(text_col))).select(
        F.col(id_col), *[F.col(c) for c in carry_cols], words.alias("_w")
    ).where(F.expr("size(filter(_w, x -> x != ''))") > 0)
    bpos = (
        "array_distinct(concat(array(0),"
        f" filter(sequence(1, size(_w)), i -> {h} % {modulus} = 0),"
        " array(size(_w))))"
    )
    chunks = (
        f"transform(sequence(1, size({bpos}) - 1), j -> struct("
        f" j as idx,"
        f" slice(_w, element_at({bpos}, j) + 1,"
        f"       element_at({bpos}, j + 1) - element_at({bpos}, j))"
        f"   as cw))"
    )
    return (
        base.select(
            id_col,
            *carry_cols,
            F.explode(F.expr(chunks)).alias("c"),
        )
        .select(
            id_col,
            *carry_cols,
            F.col("c.idx").cast("long").alias("chunk_idx"),
            F.size("c.cw").cast("long").alias("chunk_words"),
            F.expr(
                "cast(conv(substring(md5(array_join(c.cw, ' ')), 1, 15),"
                " 16, 10) as bigint)"
            ).alias("chunk_hash"),
        )
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    n_quantiles: int = 10,
) -> DataFrame:
    """Quantile normalization: replace every row's value with the
    GLOBAL distribution's value at the row's within-group quantile —
    after it, every group has the same value distribution (up to
    quantile granularity), which is how you make per-source quality
    or length scores comparable before cross-source filtering
    (a source-biased threshold is the classic corpus-curation bug;
    cf. the per-source decile cuts in the quality-tier queries).

    Everything is NEAREST-RANK (no interpolation): within-group rank
    ``r`` of ``n_g`` maps to quantile ``j = ceil(Q*r/n_g)``; the
    normalized value is the global ``ceil(j*N/Q)``-th smallest —
    pure integer arithmetic, so engines agree bit-for-bit.

    Scale shape: one window per group for ranks (state = one group's
    rows); the global value-at-rank table derives from the DISTINCT-
    value histogram (one map-side-combined groupBy, cumulative window
    over the value-cardinality-sized aggregate — never a global sort
    of raw rows), each distinct value emitting the quantile indexes
    whose target rank falls inside its cumulative span; the final
    Q-row quantile table broadcast-joins back on the quantile index.
    Adds ``quantile`` (1..Q) and ``norm_value``.
    """
    q = int(n_quantiles)
    wg = Window.partitionBy(group_col).orderBy(value_col, id_col)
    wn = Window.partitionBy(group_col)
    ranked = (
        df.withColumn("_r", F.row_number().over(wg))
        .withColumn("_ng", F.count(F.lit(1)).over(wn))
        .withColumn(
            "quantile",
            F.expr(f"({q} * _r + _ng - 1) div _ng").cast("long"),
        )
        .drop("_r", "_ng")
    )
    hist = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("_c"))
    wv = Window.orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    hist = (
        hist.withColumn("_cum", F.sum("_c").over(wv))
        .withColumn("_N", F.sum("_c").over(Window.partitionBy()))
    )
    lo = F.expr(f"({q} * (_cum - _c)) div _N + 1")
    hi = F.expr(f"({q} * _cum) div _N")
    quantile_values = hist.select(
        F.col(value_col).alias("norm_value"),
        F.explode(
            F.when(hi >= lo, F.sequence(lo, hi)).otherwise(
                F.array().cast("array<bigint>")
            )
        ).alias("quantile"),
    )
    return ranked.join(F.broadcast(quantile_values), "quantile")


def phrase_search(
    df: DataFrame,
    phrase: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase search via a POSITIONAL inverted index — the IR
    primitive BM25 (bag-of-words scoring) cannot express: find docs
    where the phrase's tokens occur CONSECUTIVELY. Tokenize with
    positions (posexplode over the normalized split), keep only
    postings for the phrase's tokens (a scan-side ISIN filter — the
    index never materializes for the rest of the vocabulary), then
    self-join position lists with the offset constraint
    ``pos_k = pos_0 + k``. Returns (id, n_occurrences).

    Scale shape: postings for k phrase tokens only; each join is an
    equi-join on (id, shifted position) — co-partitioned after the
    first shuffle, and phrase-token postings are a vanishing fraction
    of the corpus. The naive alternative — substring-scan every
    document — reads 100% of the text bytes per query; the positional
    join reads the index once and scales with posting length."""
    if len(phrase) < 2:
        raise ValueError("phrase must have >= 2 tokens")
    norm = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")),
        " ",
    )
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(norm).alias("_pos", "_tok"),
    ).filter(F.col("_tok").isin(*phrase))
    out = None
    for k, word in enumerate(phrase):
        p = toks.filter(F.col("_tok") == word).select(
            "_id", (F.col("_pos") - k).alias("_start")
        )
        out = p if out is None else out.join(p, ["_id", "_start"])
    return out.groupBy(F.col("_id").alias(id_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
