"""Large-scale document deduplication operators.

Extends the reference's relational surface (it has none of these —
SURVEY §7 step 6) with the dedup family a 100 TB training-data pipeline
needs: exact (hash groupBy), MinHash+LSH banding, SimHash, and n-gram
Jaccard. Division of labor, chosen by measurement: string hashing and
shingling stay JVM-side (xxhash64 in codegen during the scan); the
per-document signature arithmetic (permutation mins, bit balances) runs
in Arrow-batched numpy kernels — Spark's higher-order array folds are
interpreted per element (~60 µs/fold), which at 32-64 folds per row
dwarfs the math. Candidate pairs are generated IN-ROW from bucket
groups (collect_list → pair expansion → explode), so each algorithm
pays only its inherent shuffles — and the groups themselves are
SALTED BY KEY above the bucket cap (`salted_bucket_pairs`), so no
aggregation buffer ever holds a whole hot bucket.

Scale notes (how each behaves at 100 TB):
- exact: one shuffle on a 128-bit fingerprint; skew-free by construction
  (hash keys are uniform).
- MinHash LSH: rows explode ×num_bands (doc_id + signature + bucket —
  never the text), one shuffle on (band, bucket), pairs expanded in-row.
  Bucket-size cap guards against degenerate buckets (boilerplate docs)
  exploding quadratically.
- SimHash: signature is one 63-bit long per doc; candidate pairs via
  chunk buckets (Manku trick), hamming-verified in-row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ingestao_dados_poli_spark.functions.text import normalize_text
from ingestao_dados_poli_spark.partitioning import fan_out


def _pairs_in_group(ids_col: Column) -> Column:
    """array<struct<id_a,id_b>> — all ordered pairs (a<b) within one
    bucket's SORTED id array, generated in-row.

    Replaces a bucket self-join: groupBy(bucket).collect_list →
    in-row pair expansion → explode costs ONE shuffle (the groupBy,
    map-side combined) instead of two join-side exchanges plus a
    window for the bucket-size cap (array size IS the cap check).
    """
    return F.flatten(
        F.transform(
            ids_col,
            lambda x, i: F.transform(
                # slice start is 1-based: element i (0-based) pairs with
                # everything from position i+2 onward.
                F.slice(ids_col, i + F.lit(2), F.size(ids_col)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def _let(bound: Column, body) -> Column:
    """Let-binding for column expression trees: evaluate ``bound`` once
    and pass it to ``body`` as a lambda variable. ``transform`` binds
    its lambda argument to the MATERIALIZED element value, so a
    single-element array + transform + get(0) gives many cheap
    references to one evaluation — Spark has no native let, and naive
    reuse of a subexpression inside higher-order lambdas re-evaluates
    it per invocation."""
    return F.get(F.transform(F.array(bound), body), 0)


def _bucket_pairs_capped(docs_col: Column, max_bucket_size: int) -> Column:
    """array<struct<id_a,id_b>> pairs for one bucket, degrading
    GRACEFULLY above ``max_bucket_size`` instead of dropping the bucket
    (a dropped hot bucket is silent 100% recall loss exactly where
    near-dups concentrate — boilerplate-heavy corpora).

    - size ≤ cap: all pairs, identical to the uncapped behavior.
    - size > cap: members are salted into ⌈size/cap⌉ sub-buckets by
      ``xxhash64`` of the member struct (hash-uniform, deterministic —
      ids are unique so identical-text members still spread), all pairs
      WITHIN each sub-bucket, plus a chain of pairs stitching
      consecutive sub-bucket anchors so the bucket stays one connected
      component for downstream clustering. Pair count is ≤
      size·cap/2 + ⌈size/cap⌉ — LINEAR in bucket size with slope
      cap/2, vs the quadratic blow-up the cap exists to prevent.

    What degradation costs, stated honestly: pairs ACROSS sub-buckets
    (other than the anchor chain) are not emitted, so the per-pair
    pigeonhole guarantee (identical signature ⟹ direct candidate
    pair) weakens inside hot buckets to "connected via the sampled
    pair graph". Every member still appears in ≥1 sub-bucket, so
    per-member recall is non-zero — the property a dedup pipeline
    needs. All emitted pairs carry exact in-row estimates, so
    degradation can never create a false positive.
    """
    n = F.size(docs_col)
    full = _pairs_in_group(F.array_sort(docs_col))
    n_chunks = F.ceil(n / F.lit(max_bucket_size)).cast("int")

    def _ordered(a: Column, b: Column) -> Column:
        return F.when(
            a < b, F.struct(a.alias("id_a"), b.alias("id_b"))
        ).otherwise(F.struct(b.alias("id_a"), a.alias("id_b")))

    # Each member is salted ONCE (xxhash64 of a signature-carrying
    # struct is 100s of bytes — rehashing it per chunk would be
    # O(size·chunks) hash work); `_let` materializes the salted array,
    # the chunk list, and the anchor list exactly once each, because a
    # plain subexpression referenced inside a higher-order lambda is
    # RE-EVALUATED on every lambda invocation.
    salted = F.transform(
        docs_col,
        lambda d: F.struct(
            F.pmod(F.xxhash64(d), n_chunks).alias("_salt"), d.alias("d")
        ),
    )

    def _with_anchors(intra: Column):
        def inner(anchors: Column) -> Column:
            stitch = F.filter(
                F.transform(
                    anchors,
                    lambda a, i: F.when(
                        i > 0, _ordered(F.get(anchors, i - 1), a)
                    ),
                ),
                lambda p: p.isNotNull(),
            )
            return F.concat(intra, stitch)

        return inner

    def _with_chunks(chs: Column) -> Column:
        intra = F.flatten(F.transform(chs, lambda ch: _pairs_in_group(ch)))
        anchors = F.transform(chs, lambda ch: F.get(ch, 0))
        return _let(anchors, _with_anchors(intra))

    def _chunks_of(sal: Column) -> Column:
        return F.filter(
            F.transform(
                F.sequence(F.lit(0), n_chunks - F.lit(1)),
                lambda c: F.array_sort(
                    F.transform(
                        F.filter(sal, lambda s: s.getField("_salt") == c),
                        lambda s: s.getField("d"),
                    )
                ),
            ),
            lambda ch: F.size(ch) >= 1,
        )

    degraded = _let(salted, lambda sal: _let(_chunks_of(sal), _with_chunks))
    # Conditional branches evaluate lazily per row, so the degraded
    # expression tree costs nothing on the ≤ cap fast path.
    return F.when(n <= F.lit(max_bucket_size), full).otherwise(degraded)


_BPC_CACHE: dict[tuple[str, int], Column] = {}
_bpc_gateway = None  # the py4j gateway the cached Columns belong to


def _bucket_pairs_capped_by_name(col_name: str, max_bucket_size: int) -> Column:
    """Memoized `_bucket_pairs_capped` over a NAMED column: the builder
    assembles a few hundred py4j Column objects (~0.5 s of driver build
    time per call, measured r08 cProfile on q124), and the resulting
    tree is a pure function of (column name, cap) — an immutable
    unresolved expression that every plan can share. The cached Column
    holds py4j references into ONE gateway JVM; clearing
    ``SparkContext._gateway`` (a full session restart) launches a new
    JVM where those references are dead, so the cache is tied to the
    gateway's identity: a new gateway empties it."""
    global _bpc_gateway
    from pyspark import SparkContext

    if SparkContext._gateway is not _bpc_gateway:
        _BPC_CACHE.clear()
        _bpc_gateway = SparkContext._gateway
    key = (col_name, max_bucket_size)
    c = _BPC_CACHE.get(key)
    if c is None:
        c = _bucket_pairs_capped(F.col(col_name), max_bucket_size)
        _BPC_CACHE[key] = c
    return c


def salted_bucket_pairs(
    banded: DataFrame,
    group_keys: list[str],
    doc_col: str,
    max_bucket_size: int,
) -> DataFrame:
    """Candidate pairs from a banded/bucketed frame as one column ``p``
    (struct<id_a, id_b> of ``doc_col``'s struct type), with DISTRIBUTED
    graceful degradation for hot buckets — the salt lives in the GROUP
    KEY, so no whole bucket ever sits in one aggregation buffer.

    Why not groupBy(bucket).collect_list + in-row sub-bucketing
    (`_bucket_pairs_capped` alone, the previous design): collect_list's
    aggregation buffer does not spill, so ONE boilerplate mega-bucket
    (10⁸ members at 100 TB) is an executor OOM before any cap runs, and
    the in-row chunk scan is O(size²/cap) work on a single task —
    measured 14.2× time at 10× input in the scale smoke vs ≤3.1× for
    every other operator.

    The distributed plan, one pass over ``banded``:
    1. a count window over ``group_keys`` annotates each row with its
       bucket size (WindowExec's buffer spills, unlike the agg buffer);
    2. hot rows (size > cap) get ``salt = pmod(xxhash64(doc),
       ceil(size/cap))`` — the same member→sub-bucket assignment the
       in-row degradation used — cold rows get salt 0;
    3. ``groupBy(*group_keys, salt)``: each salted sub-bucket is its
       OWN aggregation group on its own task with an expected ~cap
       members, and grouping on a superset of the window's partition
       keys reuses its exchange (hash-partitioning on a prefix already
       clusters the finer key);
    4. pairs expand in-row per sub-bucket; `_bucket_pairs_capped`
       stays as a second-layer guard for the hash tail above cap;
    5. connectivity: each hot sub-bucket's min doc is its anchor, and
       a lag window over (bucket, salt-ascending) — tiny, hot groups
       only — chains consecutive anchors so every bucket remains ONE
       connected component for downstream clustering.

    Same pair set as the former in-row degradation (same salt function,
    same per-chunk exhaustive expansion, same min-anchors chained in
    salt order) except that an over-cap hash tail inside a sub-bucket
    now degrades a second time instead of expanding exhaustively —
    strictly fewer pairs, still connected, still no false positives
    (every emitted pair is estimate- or verify-checked downstream).
    Degradation recall trade is unchanged — see `_bucket_pairs_capped`.
    """
    w = Window.partitionBy(*group_keys)
    n_chunks = F.ceil(F.col("_bsz") / F.lit(max_bucket_size)).cast("int")
    annotated = banded.withColumn(
        "_bsz", F.count(F.lit(1)).over(w)
    ).withColumn(
        "_salt",
        F.when(F.col("_bsz") <= F.lit(max_bucket_size), F.lit(0)).otherwise(
            F.pmod(F.xxhash64(F.col(doc_col)), n_chunks).cast("int")
        ),
    )
    grouped = annotated.groupBy(*group_keys, "_salt").agg(
        F.collect_list(doc_col).alias("_docs"),
        F.min(doc_col).alias("_anchor"),
    )
    # The stitch pair rides IN-ROW (concat'd onto the sub-bucket's own
    # pair array) instead of a separate anchors branch union'd back:
    # a union would make Spark evaluate the whole banded subtree —
    # including the signature UDF scan — once per branch (no common-
    # subplan sharing across union sides), doubling the dominant cost.
    # `_prev` is non-null only when the same bucket spans ≥2 salt
    # groups, which happens exactly for hot buckets.
    aw = Window.partitionBy(*group_keys).orderBy("_salt")
    lagged = grouped.withColumn("_prev", F.lag("_anchor").over(aw))
    stitch_pair = F.when(
        F.col("_prev") < F.col("_anchor"),
        F.struct(F.col("_prev").alias("id_a"), F.col("_anchor").alias("id_b")),
    ).otherwise(
        F.struct(F.col("_anchor").alias("id_a"), F.col("_prev").alias("id_b"))
    )
    stitch = F.filter(
        F.array(F.when(F.col("_prev").isNotNull(), stitch_pair)),
        lambda x: x.isNotNull(),
    )
    # Size-1 groups produce an empty intra array naturally, and explode
    # drops empty-array rows, so no pre-filter is needed.
    return lagged.select(
        F.explode(
            F.concat(
                _bucket_pairs_capped_by_name("_docs", max_bucket_size), stitch
            )
        ).alias("p")
    )


def plain_bucket_pairs(
    banded: DataFrame,
    group_keys: list[str],
    doc_col: str,
    max_bucket_size: int,
) -> DataFrame:
    """Unsalted candidate pairs: ONE groupBy + in-row capped expansion
    (`_bucket_pairs_capped` still degrades a >cap bucket in-row, so no
    unguarded O(n²)). Same pair set as `salted_bucket_pairs` for
    buckets at or under the cap — identical collect_list → identical
    expansion; only the over-cap degradation differs (in-row chunks vs
    salted sub-groups).

    ONLY for structurally-bounded inputs — e.g. the degenerate-exact
    oracle configuration (num_planes=0 → ONE constant-signature bucket
    over a pre-bounded slice): collect_list's aggregation buffer does
    not spill, so an unbounded hot bucket belongs on the salted path.
    Exists because the salted path's count window (extra sort +
    windowed pass over every banded row) measured 2.2× overhead on the
    degenerate config where bucket sizes are already known bounded
    (q39 regression, round-5 verdict).

    NOTE for callers: a Generate runs inside its input row's task, so
    with ONE bucket every returned pair lives in a single partition —
    run per-pair verification AFTER the next exchange (e.g. a
    dropDuplicates on the pair ids), not in-row, or the verify
    serializes on one core (the actual q39 regression mechanism)."""
    return (
        banded.groupBy(*group_keys)
        .agg(F.collect_list(doc_col).alias("_docs"))
        .select(
            F.explode(
                _bucket_pairs_capped_by_name("_docs", max_bucket_size)
            ).alias("p")
        )
    )


# ---------------------------------------------------------------- exact

def fingerprint_exact(col: Column | str) -> Column:
    """md5 of normalized text — matches DuckDB's md5 for oracle checks."""
    return F.md5(normalize_text(col))


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact (normalized) dedup: keep the lowest-id doc per fingerprint.

    groupBy on the fingerprint (uniform 128-bit key → no skew), min(id),
    then a semi-join back. Two shuffles total; both on hash-uniform keys.
    """
    fp = fingerprint_exact(text_col).alias("_fp")
    keep = (
        fan_out(df).select(F.col(id_col), fp)
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .drop("_fp")
    )
    return df.join(keep, id_col, "left_semi")


# ----------------------------------------------------- shingle hashing

def _token_hashes(text_col: Column | str) -> Column:
    """array<bigint>: xxhash64 of each whitespace token of the
    normalized text — ONE JVM hash per token, the cheap part."""
    toks = F.split(normalize_text(text_col), " ")
    return F.transform(toks, lambda t: F.xxhash64(t))


_SHINGLE_COEF_SEED = 0xC0FFEE


def _shingle_coefs(k: int):
    rng = np.random.RandomState(_SHINGLE_COEF_SEED + k)
    return (rng.randint(0, 2**62, size=k).astype(np.uint64) * 2 + 1)  # odd


def _rolling_shingle_hashes(hv: "np.ndarray", k: int, coefs: "np.ndarray") -> "np.ndarray":
    """k-gram hashes from token hashes: S[i] = Σ_j t[i+j]·c_j (mod 2^64).

    A position-weighted combo (not plain sum/xor) so permuted k-grams
    hash differently. Docs shorter than k tokens yield one hash over all
    tokens — mirrors shingles()' single-shingle fallback.
    """
    n = hv.shape[0]
    if n < k:
        return (hv * coefs[:n]).sum(keepdims=True)
    win = np.lib.stride_tricks.sliding_window_view(hv, k)  # (n-k+1, k)
    return win @ coefs  # uint64 wraparound == mod 2^64


def shingle_hashes_udf(k: int):
    """Arrow-batched distinct k-gram shingle hashes per document.

    Replaces the column-expression shingle builder
    (`transform(sequence, i -> array_join(slice(tokens, i, k)))` +
    per-shingle string hash), whose interpreted slice/join/hash measured
    ~560 µs PER DOCUMENT. Here the JVM hashes each token once and numpy
    forms the k-gram hashes with one sliding-window matmul.
    """
    from pyspark.sql.functions import pandas_udf

    coefs = _shingle_coefs(k)

    @pandas_udf("array<long>")
    def sh(hs: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for h in hs:
                if h is None or len(h) == 0:
                    out.append(np.empty(0, dtype=np.int64))
                    continue
                hv = np.asarray(h, dtype=np.int64).view(np.uint64)
                out.append(np.unique(_rolling_shingle_hashes(hv, k, coefs)).view(np.int64))
        return pd.Series(out)

    return sh


# -------------------------------------------------------------- MinHash

def _minhash_from_token_hashes_udf(num_hashes: int, k: int):
    """Fused MinHash kernel: token hashes → rolling k-gram hashes →
    permutation mins, one Arrow pass (a separate shingle-hash UDF would
    cross Python twice per row).

    The num_hashes 'hash functions' are universal-hash permutations of
    ONE base hash per shingle: h_i(x) = a_i*h(x) + b_i (mod 2^64) —
    the standard datasketch-style construction; numpy derives all
    permutations and takes mins in a vectorized pass (a per-function
    `array_min(transform(...))` fold is interpreted per element,
    measured ~60 µs per fold). Coefficients come from a seeded PRNG →
    stable across processes."""
    from pyspark.sql.functions import pandas_udf

    coefs = _shingle_coefs(k)
    rng = np.random.RandomState(0x5EED)
    a = (rng.randint(0, 2**62, size=num_hashes).astype(np.uint64) * 2 + 1)
    b = rng.randint(0, 2**62, size=num_hashes).astype(np.uint64)

    @pandas_udf("array<long>")
    def sig(hs: pd.Series) -> pd.Series:
        # Batch-vectorized: all documents' shingle hashes concatenate
        # into one array; per-doc mins come from np.minimum.reduceat at
        # the document offsets — no per-document Python loop.
        sentinel = np.full(num_hashes, np.iinfo(np.int64).max)
        with np.errstate(over="ignore"):
            chunks = []
            counts = []
            for h in hs:
                if h is None or len(h) == 0:
                    counts.append(0)
                    continue
                hv = np.asarray(h, dtype=np.int64).view(np.uint64)
                sh = _rolling_shingle_hashes(hv, k, coefs)
                chunks.append(sh)
                counts.append(sh.shape[0])
            if not chunks:
                return pd.Series([sentinel] * len(hs))
            flat = np.concatenate(chunks)  # (S_total,)
            perms = flat[:, None] * a[None, :] + b[None, :]  # (S_total, H)
            counts = np.asarray(counts)
            nonempty = counts > 0
            offsets = np.concatenate(([0], np.cumsum(counts[nonempty])[:-1]))
            mins = np.minimum.reduceat(perms, offsets, axis=0).view(np.int64)
            out = np.empty((len(hs), num_hashes), dtype=np.int64)
            out[nonempty] = mins
            out[~nonempty] = sentinel
        return pd.Series(list(out))

    return sig


def minhash_bands(sig_col: Column | str, num_bands: int, rows_per_band: int) -> Column:
    """array<struct<band:int, bucket:bigint>> — hash each band of the
    signature to one LSH bucket id.

    Built as ONE ``F.expr`` SQL string, not num_bands × rows_per_band
    Python Column objects: every ``F.xxx``/``getItem`` call is a py4j
    round trip (~0.3 ms), and at 16 bands × 4 rows × 2 join sides this
    builder alone cost ~1.1 s of driver build time per q124 call
    (measured r08, cProfile: 6,711 round trips for the query build).
    The parsed expression is identical — same xxhash64 args, same
    struct fields — so every bucket id is unchanged."""
    if isinstance(sig_col, str):
        name = f"`{sig_col}`"
        bands_sql = ", ".join(
            "struct({b} as band, xxhash64({args}) as bucket)".format(
                b=b,
                args=", ".join(
                    f"{name}[{b * rows_per_band + r}]"
                    for r in range(rows_per_band)
                ),
            )
            for b in range(num_bands)
        )
        return F.expr(f"array({bands_sql})")
    sig = sig_col
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[sig.getItem(b * rows_per_band + r) for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for b in range(num_bands)
        ]
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    num_bands: int = 16,
    k: int = 5,
    max_bucket_size: int = 200,
) -> DataFrame:
    """(id_a, id_b, est_jaccard) candidate near-dup pairs via banded LSH.

    Pipeline: signature (scan-side) → explode bands (rows carry ONLY
    id + band + bucket, never the text) → shuffle on (band, bucket) →
    per-bucket self-join (id_a < id_b) → dedup pairs → estimate jaccard
    from full signatures. Buckets larger than ``max_bucket_size`` (e.g.
    empty/boilerplate docs) degrade to salted sub-bucket samples plus
    an anchor chain instead of emitting O(n²) pairs — the salt lives in
    the GROUP KEY so no task ever buffers a whole hot bucket, see
    ``salted_bucket_pairs``; audit the size distribution with
    ``minhash_bucket_stats``.
    """
    if num_hashes % num_bands:
        raise ValueError(
            f"num_hashes={num_hashes} must be divisible by num_bands="
            f"{num_bands} (remainder hashes would be computed but never banded)"
        )
    rows_per_band = num_hashes // num_bands
    # JVM: normalize+tokenize+hash each token once; fused numpy kernel:
    # k-gram rolling hashes → permutation mins. One Arrow pass per row.
    sigs = fan_out(df).select(
        F.col(id_col).alias("_id"),
        _minhash_from_token_hashes_udf(num_hashes, k)(
            _token_hashes(text_col)
        ).alias("minhash"),
    )
    # The signature (num_hashes longs ≈ 256-512 B) rides along into the
    # bucket groups so the Jaccard estimate is computed IN-ROW on the
    # expanded pair — signatures are computed exactly once and never
    # joined back (the join-back formulation recomputes the MinHash
    # subtree once per join side).
    banded = sigs.select(
        F.struct("_id", "minhash").alias("doc"),
        F.explode(minhash_bands("minhash", num_bands, rows_per_band)).alias("bb"),
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    # positional agreement fraction — the unbiased MinHash Jaccard
    # estimator (array_intersect would compare as SETS, which is wrong)
    est = F.aggregate(
        F.zip_with(
            F.col("p.id_a.minhash"),
            F.col("p.id_b.minhash"),
            lambda x, y: (x == y).cast("int"),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(num_hashes)
    return (
        salted_bucket_pairs(banded, ["band", "bucket"], "doc", max_bucket_size)
        .select(
            F.col("p.id_a._id").alias("id_a"),
            F.col("p.id_b._id").alias("id_b"),
            est.cast("double").alias("est_jaccard"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_bucket_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    num_bands: int = 16,
    k: int = 5,
    max_bucket_size: int = 200,
) -> DataFrame:
    """Per-band LSH bucket-size audit — run this BEFORE (or alongside)
    ``minhash_candidate_pairs`` to see how much of the corpus falls
    into hot buckets and therefore gets SAMPLED pair recall instead of
    exhaustive: one row per band with ``n_buckets``, ``n_pair_buckets``
    (size ≥ 2), ``n_hot_buckets`` (size > cap, the degraded ones),
    ``max_bucket`` and ``docs_in_hot``. A corpus where ``docs_in_hot``
    is a meaningful fraction of rows needs boilerplate stripping or
    exact dedup FIRST — degradation keeps the job bounded, the stats
    make the recall trade visible instead of silent.

    Cost: the same signature scan as the pair job plus one count-only
    (band, bucket) aggregation — no signatures ride along and no pair
    expansion, so the shuffle carries 8-byte counts.
    """
    if num_hashes % num_bands:
        raise ValueError(
            f"num_hashes={num_hashes} must be divisible by num_bands={num_bands}"
        )
    rows_per_band = num_hashes // num_bands
    sigs = fan_out(df).select(
        F.col(id_col).alias("_id"),
        _minhash_from_token_hashes_udf(num_hashes, k)(
            _token_hashes(text_col)
        ).alias("minhash"),
    )
    sizes = (
        sigs.select(
            F.explode(
                minhash_bands("minhash", num_bands, rows_per_band)
            ).alias("bb")
        )
        .groupBy(F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    hot = F.col("sz") > max_bucket_size
    return (
        sizes.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum((F.col("sz") >= 2).cast("int")).alias("n_pair_buckets"),
            F.sum(hot.cast("int")).alias("n_hot_buckets"),
            F.max("sz").alias("max_bucket"),
            F.sum(F.when(hot, F.col("sz")).otherwise(0)).alias("docs_in_hot"),
        )
        .orderBy("band")
    )


def dedup_incremental_exact(
    new: DataFrame,
    existing: DataFrame,
    text_col: str,
    id_col: str,
    existing_is_fingerprints: bool = False,
) -> DataFrame:
    """Incremental exact dedup — the every-ingest operation of a growing
    corpus: drop rows of ``new`` whose normalized text already exists in
    ``existing``, then drop intra-batch duplicates (keep lowest id).

    Scale shape: both sides reduce to md5 fingerprints scan-side; the
    corpus side collapses to its DISTINCT fingerprint set before the
    anti-join, so the join carries 16-byte hash-uniform keys — never
    corpus text. At 100 TB you don't rescan the corpus per batch: you
    MAINTAIN the fingerprint set as its own compact table (append each
    batch's surviving fingerprints) and pass it with
    ``existing_is_fingerprints=True`` (a one-column ``_fp`` table);
    the per-ingest cost is then |delta| + |fp set| — independent of
    corpus text bytes.
    """
    if existing_is_fingerprints:
        fps = existing.select(F.col("_fp")).distinct()
    else:
        fps = existing.select(
            fingerprint_exact(text_col).alias("_fp")
        ).distinct()
    survivors = dedup_exact(new, text_col, id_col)
    return (
        survivors.withColumn("_fp", fingerprint_exact(text_col))
        .join(fps, "_fp", "left_anti")
        .drop("_fp")
    )


def fingerprint_store_read(spark, store_path: str) -> DataFrame | None:
    """Union of every committed fingerprint delta under ``store_path``
    (one multi-directory parquet scan — commit markers start with ``_``
    so Spark's reader skips them), or None when nothing is published.
    The store is DELTA-shaped: each ingest publishes only its batch's
    new fingerprints (``dedup_ingest_batch``), so per-batch write cost
    is |delta|, never the cumulative set — at 100 TB the cumulative
    fingerprint table is itself hundreds of GB and rewriting it per
    ingest would dominate the pipeline. Fold deltas periodically with
    ``fingerprint_store_compact``.
    """
    from ingestao_dados_poli_spark.sources import versioned

    versions = versioned.committed_versions(spark, store_path)
    if not versions:
        return None
    return spark.read.parquet(
        *[f"{store_path}/v={v}" for v in versions]
    ).select("_fp")


def dedup_ingest_batch(
    spark,
    batch: DataFrame,
    store_path: str,
    text_col: str,
    id_col: str,
) -> tuple[DataFrame, int]:
    """One ingest step of a growing corpus: dedup ``batch`` against the
    versioned fingerprint store (exact, normalized), publish the
    survivors' fingerprints as the store's next DELTA snapshot, and
    return ``(survivors, published_version)``.

    This is the maintained-fingerprint-table lifecycle
    ``dedup_incremental_exact`` documents: batch N's dedup reads ONLY
    the fingerprint store (16-byte keys) plus batch N itself — corpus
    text bytes are never rescanned, so per-ingest cost is
    |batch| + |fp store| regardless of corpus size. The publish
    inherits the store's atomic-commit protocol: a crash mid-write
    leaves an uncommitted (invisible) delta, and the batch can be
    re-ingested idempotently — re-publishing fingerprints that are
    already committed only costs duplicate keys, which every reader
    path tolerates (``dedup_incremental_exact`` distincts the store,
    ``compact`` distincts the union).

    The returned ``survivors`` plan is lazy and will re-derive from
    ``batch`` when the caller writes it; persist ``batch`` (or write
    survivors first and re-read) if the source is expensive to rescan.
    """
    existing = fingerprint_store_read(spark, store_path)
    if existing is None:
        survivors = dedup_exact(batch, text_col, id_col)
    else:
        survivors = dedup_incremental_exact(
            batch, existing, text_col, id_col, existing_is_fingerprints=True
        )
    from ingestao_dados_poli_spark.sources import versioned

    delta = survivors.select(fingerprint_exact(text_col).alias("_fp")).distinct()
    version = versioned.publish(spark, delta, store_path)
    return survivors, version


def fingerprint_store_compact(spark, store_path: str, keep: int = 1) -> int:
    """Fold all committed fingerprint deltas into one snapshot and
    vacuum the olds away (bounds the reader's union fan-in after many
    ingests). Publishes the distinct union as the next version, then
    keeps the newest ``keep`` committed versions. Returns the compacted
    version number. Like ``vacuum``, not safe concurrently with an
    in-flight ingest."""
    from ingestao_dados_poli_spark.sources import versioned

    fps = fingerprint_store_read(spark, store_path)
    if fps is None:
        raise FileNotFoundError(f"no committed fingerprints under {store_path}")
    version = versioned.publish(spark, fps.distinct(), store_path)
    versioned.vacuum(spark, store_path, keep=keep)
    return version


def minhash_pairs_between(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    num_bands: int = 16,
    k: int = 5,
    max_bucket_size: int = 200,
) -> DataFrame:
    """(left_id, right_id, est_jaccard) near-dup candidates BETWEEN two
    corpora — the delta-vs-corpus LSH join for incremental ingest
    (``minhash_candidate_pairs`` is the within-corpus variant; this one
    never pairs two rows from the same side, so a boilerplate-heavy
    corpus can't explode against itself).

    Same discipline as the self-join: signatures ride in-row into the
    (band, bucket) groups — ONE shuffle, no join-back recompute — and
    buckets larger than ``max_bucket_size`` (counting BOTH sides)
    degrade to key-salted sub-bucket samples via
    ``salted_bucket_pairs`` rather than being dropped. Pair expansion is in-row over each
    bucket's doc list, filtered to cross-side pairs (anchor-chain
    stitch pairs between same-side anchors are filtered out with them).
    """
    if num_hashes % num_bands:
        raise ValueError(
            f"num_hashes={num_hashes} must be divisible by num_bands={num_bands}"
        )
    rows_per_band = num_hashes // num_bands

    def banded(df: DataFrame, side: int) -> DataFrame:
        sigs = fan_out(df).select(
            F.col(id_col).alias("_id"),
            F.lit(side).alias("_side"),
            _minhash_from_token_hashes_udf(num_hashes, k)(
                _token_hashes(text_col)
            ).alias("minhash"),
        )
        return sigs.select(
            F.struct("_side", "_id", "minhash").alias("doc"),
            F.explode(
                minhash_bands("minhash", num_bands, rows_per_band)
            ).alias("bb"),
        ).select(
            "doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )

    est = F.aggregate(
        F.zip_with(
            F.col("p.id_a.minhash"),
            F.col("p.id_b.minhash"),
            lambda x, y: (x == y).cast("int"),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(num_hashes)
    pairs = (
        salted_bucket_pairs(
            banded(left, 0).unionByName(banded(right, 1)),
            ["band", "bucket"],
            "doc",
            max_bucket_size,
        )
        # sides sort first in the struct, so cross-side pairs always
        # have id_a from left (side 0) and id_b from right (side 1)
        .filter(F.col("p.id_a._side") != F.col("p.id_b._side"))
        .select(
            F.col("p.id_a._id").alias("left_id"),
            F.col("p.id_b._id").alias("right_id"),
            est.cast("double").alias("est_jaccard"),
        )
        .dropDuplicates(["left_id", "right_id"])
    )
    return pairs


def dedup_minhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    **kwargs,
) -> DataFrame:
    """Drop near-duplicates: from each candidate pair above ``threshold``
    remove the higher-id doc. Single-link transitive clustering is
    approximated by iterated pair removal (one pass — adequate for dedup
    where any surviving representative is acceptable)."""
    pairs = minhash_candidate_pairs(df, text_col, id_col, **kwargs)
    to_drop = (
        pairs.filter(F.col("est_jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(to_drop, id_col, "left_anti")


# -------------------------------------------------------------- SimHash

def simhash(text_col: Column | str, bits: int = 63, pre_hashed: bool = False) -> Column:
    """63-bit SimHash as a non-negative bigint, fully JVM-side.

    Token hashes via xxhash64; each bit of the signature is the sign of
    the sum over tokens of ±1 for that bit position. Uses 63 bits to stay
    within a signed long. ``pre_hashed=True`` means ``text_col`` is
    already an array<bigint> of token hashes (preferred: compute it in
    its own projection, else the tokenize+hash subtree is re-evaluated
    once per bit).
    """
    from pyspark.sql.functions import pandas_udf

    if pre_hashed:
        hashes = F.col(text_col) if isinstance(text_col, str) else text_col
    else:
        toks = F.split(normalize_text(text_col), " ")
        hashes = F.transform(toks, lambda t: F.xxhash64(t))

    # JVM hashes each token once; the per-bit ±1 balances and the bit
    # pack run in an Arrow-batched numpy kernel. (A pure-column version
    # exists in git history — one aggregate with an array accumulator —
    # but higher-order folds are interpreted per element and measured
    # ~60 µs per fold.) Bit extraction on the uint64 view matches the
    # JVM's two's-complement bit_get exactly.
    shifts = np.arange(bits, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).astype(np.int64)

    @pandas_udf("long")
    def sig(hs: pd.Series) -> pd.Series:
        # Batch-vectorized: one bit matrix over ALL tokens in the batch,
        # per-document balances via np.add.reduceat at the doc offsets.
        counts = np.array([0 if h is None else len(h) for h in hs])
        out = np.zeros(len(hs), dtype=np.int64)
        nonempty = counts > 0
        if not nonempty.any():
            return pd.Series(out)
        flat = np.concatenate(
            [np.asarray(h, dtype=np.int64) for h in hs if h is not None and len(h)]
        ).view(np.uint64)  # (T_total,)
        bitmat = ((flat[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int8)
        signed = (2 * bitmat - 1).astype(np.int32)  # (T_total, bits)
        offsets = np.concatenate(([0], np.cumsum(counts[nonempty])[:-1]))
        balances = np.add.reduceat(signed, offsets, axis=0)  # (docs, bits)
        out[nonempty] = (weights[None, :] * (balances > 0)).sum(axis=1)
        return pd.Series(out)

    return sig(hashes)


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    num_chunks: int | None = None,
    max_bucket_size: int = 200,
) -> DataFrame:
    """(id_a, id_b, hamming) near-dup pairs by SimHash.

    Classic Manku/Jain/Sarma trick: split the 63-bit signature into
    ``num_chunks`` chunks; any pair within hamming distance < num_chunks
    must agree exactly on ≥1 chunk → bucket on (chunk_idx, chunk_value),
    verify with bit_count(xor) inside the bucket. One shuffle on chunks.

    ``num_chunks`` defaults to ``max_hamming + 1`` — the smallest value
    for which the pigeonhole recall guarantee actually covers the
    requested distance; an explicit smaller value silently misses pairs.
    Buckets larger than ``max_bucket_size`` (e.g. many empty docs all
    hashing to sig=0) degrade to key-salted sub-bucket samples via
    ``salted_bucket_pairs`` instead of the quadratic in-row pair
    expansion; every emitted pair is still exact-verified by the
    in-row hamming check, so degradation cannot admit a false match.
    """
    if num_chunks is None:
        num_chunks = max_hamming + 1
    elif num_chunks <= max_hamming:
        raise ValueError(
            f"num_chunks={num_chunks} cannot guarantee recall for "
            f"max_hamming={max_hamming}; need num_chunks > max_hamming"
        )
    chunk_bits = 63 // num_chunks
    hashed = fan_out(df).select(
        F.col(id_col).alias("_id"),
        F.transform(
            F.split(normalize_text(text_col), " "), lambda t: F.xxhash64(t)
        ).alias("_th"),
    )
    sigs = hashed.select("_id", simhash("_th", pre_hashed=True).alias("sig"))
    chunks = sigs.select(
        "_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright(F.col("sig"), i * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("cv"),
                    )
                    for i in range(num_chunks)
                ]
            )
        ).alias("ch"),
    ).select("_id", "sig", "ch.ci", "ch.cv")

    # One shuffle: group (id, sig) per chunk bucket, expand pairs in-row
    # (sorted by struct → id_a < id_b), verify hamming inside the row.
    pairs = (
        salted_bucket_pairs(
            chunks.select(F.struct("_id", "sig").alias("doc"), "ci", "cv"),
            ["ci", "cv"],
            "doc",
            max_bucket_size,
        )
        .select(
            F.col("p.id_a._id").alias("id_a"),
            F.col("p.id_b._id").alias("id_b"),
            F.bit_count(F.col("p.id_a.sig").bitwiseXOR(F.col("p.id_b.sig"))).alias(
                "hamming"
            ),
        )
    )
    return pairs.filter(F.col("hamming") <= max_hamming).distinct()


# ------------------------------------------------------- n-gram Jaccard

def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_posting_len: int = 500,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via an inverted shingle index.

    Instead of a cross join (O(n²) at any scale), build shingle→doc
    postings, join postings to get co-occurring pairs with intersection
    counts, then compute |A∩B| / (|A|+|B|-|A∩B|). ``max_posting_len``
    drops stop-shingles whose postings would dominate the pair blow-up.
    """
    # Shingles live as int64 hashes end-to-end (JVM token hash → numpy
    # rolling k-gram, see shingle_hashes_udf): the postings shuffle moves
    # 8-byte keys instead of ~40-byte strings. Collisions (~2^-64 per
    # pair) only ever nudge an estimate, never corrupt ids.
    docs = fan_out(df).select(
        F.col(id_col).alias("_id"),
        shingle_hashes_udf(k)(_token_hashes(text_col)).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))

    postings = docs.select("_id", "n_sh", F.explode("sh").alias("shingle"))
    # The stop-shingle cap is applied BEFORE the postings aggregation:
    # a count window over the shingle annotates each posting row with
    # its posting length (WindowExec's buffer spills; collect_list's
    # does not), hot postings are filtered out, and only then does
    # collect_list build — so the buffer never materializes a stop
    # shingle's posting. Output is identical to filtering the collected
    # array's size (those postings were dropped either way); grouping
    # on the window's own partition key reuses its exchange.
    plen = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    inter = (
        postings.withColumn("_plen", plen)
        .filter(F.col("_plen") <= max_posting_len)
        .groupBy("shingle")
        .agg(F.collect_list(F.struct("_id", "n_sh")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(_pairs_in_group(F.array_sort("ids"))).alias("p"))
        .groupBy(
            F.col("p.id_a._id").alias("id_a"),
            F.col("p.id_b._id").alias("id_b"),
            F.col("p.id_a.n_sh").alias("na"),
            F.col("p.id_b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).cast("double")
    return inter.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_permille: int = 800,
    max_posting_len: int = 500,
) -> DataFrame:
    """Exact DIRECTED n-gram containment via the inverted shingle index.

    Containment C(A→B) = |A∩B| / |A| is the asymmetric cousin of
    Jaccard and the right measure for quote/excerpt detection: a short
    document lifted verbatim into a much longer one has near-zero
    Jaccard (the union is dominated by the long doc) but containment
    ≈ 1. Broder's original resemblance paper (1997) defines both; dedup
    pipelines that only threshold Jaccard systematically miss
    subset-duplicates, which is exactly the boilerplate/quotation case
    a training-corpus cleaner must catch.

    Same machinery as ``jaccard_pairs`` — shingle→doc postings with a
    windowed stop-shingle cap, one shuffle, in-row pair expansion —
    but the score is emitted in EXACT integer permille for BOTH
    directions: ``cont_ab = (1000·|A∩B|) div |A|`` (how much of A is
    inside B) and ``cont_ba`` likewise. Pairs are kept when EITHER
    direction reaches ``min_permille``. Integer arithmetic end-to-end:
    no float rounding to reconcile across engines.

    Scale shape: identical to ``jaccard_pairs`` — postings shuffle
    8-byte hashed shingles, the cap bounds the in-bucket pair
    expansion, and the score is computed from counts that rode along
    with the pair row (no second join back to the corpus).
    """
    docs = fan_out(df).select(
        F.col(id_col).alias("_id"),
        shingle_hashes_udf(k)(_token_hashes(text_col)).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))

    postings = docs.select("_id", "n_sh", F.explode("sh").alias("shingle"))
    plen = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    inter = (
        postings.withColumn("_plen", plen)
        .filter(F.col("_plen") <= max_posting_len)
        .groupBy("shingle")
        .agg(F.collect_list(F.struct("_id", "n_sh")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(_pairs_in_group(F.array_sort("ids"))).alias("p"))
        .groupBy(
            F.col("p.id_a._id").alias("id_a"),
            F.col("p.id_b._id").alias("id_b"),
            F.col("p.id_a.n_sh").alias("na"),
            F.col("p.id_b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = inter.select(
        "id_a",
        "id_b",
        F.expr("(1000 * inter) div na").cast("long").alias("cont_ab"),
        F.expr("(1000 * inter) div nb").cast("long").alias("cont_ba"),
    )
    return out.filter(
        F.greatest("cont_ab", "cont_ba") >= F.lit(min_permille)
    )


def prefix_filtered_jaccard(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    tokens: Column | None = None,
    max_posting_len: int | None = None,
) -> DataFrame:
    """Exact word-set Jaccard join via PREFIX FILTERING (PPJoin family,
    Chaudhuri et al. 2006 / Xiao et al. 2008) — the candidate-bounding
    alternative to the inverted-index join (``jaccard_pairs``): instead
    of pairing docs on ANY shared token, order every doc's token set by
    ascending global frequency and pair only docs sharing a token in
    the first ``m - ceil(t*m) + 1`` positions. Any pair with
    ``J >= t`` must collide there (a disjoint prefix leaves too few
    suffix slots to reach the required overlap), so the join is
    lossless; pairs that only share frequent tokens never become
    candidates, which is what keeps stop-word postings from exploding
    the pair count at corpus scale. A length filter
    (``t*na <= nb``) prunes survivors before the exact verify.
    ``tokens`` overrides the default whitespace word split with any
    deterministic array<string> expression (e.g. word k-shingles via
    ``functions.text.shingles`` — the right unit when the vocabulary
    is small enough that word SETS stop discriminating).

    ``max_posting_len`` bounds the candidate self-join on PREFIX
    postings (same contract as ``jaccard_pairs``): a prefix token
    whose posting exceeds the cap is dropped from candidate
    GENERATION. Exactness survives as long as every true pair still
    shares at least one uncapped prefix token; boilerplate corpora
    where one rare-ish token floods a posting should prefer the
    banded MinHash path (``salted_bucket_pairs``) whose degradation
    is distributed. None (default) = lossless, no cap.

    Scale shape (round 7): the WHOLE token side is TWO shuffles of the
    exploded (id, m, tk) table — one by token (a count window computes
    each token's document frequency on that exchange; previously this
    was a separate vocabulary groupBy joined back, i.e. two extra
    exploded-table passes) and one by doc for the frequency rank; the
    candidate join shuffles only PREFIX tokens — a ``1-t`` fraction of
    the postings — and Spark reuses one exchange for the self-join's
    two sides. The verify joins candidate pairs back to the
    (id, hashed-token-set) table twice (AQE broadcasts the candidate
    side) and compares sets in-row. Returns ``(id_a, id_b,
    jac_permille)`` with the exact integer permille
    ``(1000*i) div (na+nb-i)``.
    """
    if tokens is None:
        tokens = F.split(
            F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")),
            " ",
        )
    # Everything — df counts, ranking, postings, the prefix bound _m,
    # AND the verify's set intersection — runs on xxhash64 of the
    # token, NOT the token string: every exchange below carries the
    # exploded token table at least once, and an 8-byte key vs a
    # ~30-byte shingle string is a ~3x cut on the operator's total
    # shuffle bytes (the round-5 scale rung measured 13.2 GB at 500k
    # docs — this was the engine's single largest shuffle). _m and the
    # postings both derive from array_distinct of the HASHED set, so
    # the prefix length is computed in the same universe it filters
    # (round-6 advice: a string-universe _m could disagree with the
    # hash postings on an intra-doc collision and mis-place the prefix
    # boundary). PPJoin only needs ONE consistent global total order,
    # which (df, hash) is; the residual collision exposure — two
    # DISTINCT strings sharing a hash, ~1e-4 birthday odds for a
    # 5e7-token vocab — merges two tokens in the measure itself, and
    # the q241 oracle (brute-force string join) would surface any
    # realized divergence.
    docs = fan_out(df).select(
        F.col(id_col).alias("_id"),
        F.array_distinct(
            F.transform(F.array_distinct(tokens), lambda t: F.xxhash64(t))
        ).alias("_hs"),
    ).withColumn("_m", F.size("_hs"))
    # EAGER checkpoint (r07): docs feeds THREE subtrees of the single
    # final action (postings explode + the verify's sets_a/sets_b), and
    # all three recomputed the tokenize+hash+distinct pass — the
    # operator's dominant per-row CPU — because nothing materialized it
    # (a lazy mark can't help: all references live in ONE job, so each
    # would still compute it concurrently). Blocks hold exactly the
    # hashed-set table the verify must read anyway; shuffle bytes are
    # unchanged (the verify joins stay broadcast-candidate-side).
    docs = docs.localCheckpoint(eager=True)
    ex = docs.select("_id", "_m", F.explode("_hs").alias("_tk"))
    # Document frequency via a count window on the by-token exchange —
    # NOT a groupBy + join-back, which would shuffle the exploded table
    # twice more (once for the partial agg, once to re-join postings).
    # (Slimming _m out of the exploded table and re-deriving it as a
    # count window was A/B-measured byte-neutral: lz4 erases the
    # per-doc-constant column, so the extra WindowExec bought nothing.
    # The residual ~10 kB/doc floor is the prefix self-join plus the
    # exact-verify joins carrying the hashed token SETS — information
    # the lossless verify genuinely needs.)
    ranked = ex.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("_tk"))
    )
    w = Window.partitionBy("_id").orderBy("_df", "_tk")
    # prefix length m - ceil(t*m) + 1, evaluated per doc in-row
    plen = F.col("_m") - F.ceil(F.col("_m") * F.lit(threshold)) + 1
    prefix = ranked.withColumn("_pos", F.row_number().over(w)).filter(
        F.col("_pos") <= plen
    )
    if max_posting_len is not None:
        wp = Window.partitionBy("_tk")
        prefix = prefix.withColumn(
            "_plen", F.count(F.lit(1)).over(wp)
        ).filter(F.col("_plen") <= max_posting_len)
    a = prefix.select(
        F.col("_id").alias("id_a"), F.col("_m").alias("na"), "_tk"
    )
    b = prefix.select(
        F.col("_id").alias("id_b"), F.col("_m").alias("nb"), "_tk"
    )
    cand = (
        a.join(b, "_tk")
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: J >= t forces t*na <= nb (and symmetrically)
        .filter(
            (F.col("nb") >= F.col("na") * F.lit(threshold))
            & (F.col("na") >= F.col("nb") * F.lit(threshold))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sets_a = docs.select(
        F.col("_id").alias("id_a"),
        F.col("_hs").alias("_ta"),
        F.col("_m").alias("na"),
    )
    sets_b = docs.select(
        F.col("_id").alias("id_b"),
        F.col("_hs").alias("_tb"),
        F.col("_m").alias("nb"),
    )
    verified = (
        cand.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .withColumn("_i", F.size(F.array_intersect("_ta", "_tb")))
        .withColumn(
            "jac_permille",
            F.expr("(1000 * _i) div (na + nb - _i)").cast("long"),
        )
        .filter(F.col("jac_permille") >= int(round(threshold * 1000)))
    )
    return verified.select("id_a", "id_b", "jac_permille")
