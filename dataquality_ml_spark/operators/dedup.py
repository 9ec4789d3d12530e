"""Deduplication operators (SURVEY.md §7 step 9 — first-class training-data
pipeline ops): exact, MinHash-LSH, SimHash, and n-gram-Jaccard near-dup.

Scale design:
- Exact + fingerprint dedup: hash-groupBy, one shuffle on the fingerprint.
- MinHash: signatures are pure array expressions per row (NO shuffle, no
  UDF); candidate pairs come from the LSH band bucket join — never a cross
  join. Verification joins only candidate pairs back to their shingle sets.
- SimHash: two hash-partitioned aggregations (token tf, then per-doc bit
  sums) — linear, skew-resistant.
- n-gram Jaccard: shingle inverted-index join; at 100 TB add a stop-shingle
  frequency cap before the self-join (the df-cap parameter).

The hash primitives are engine-portable (md5-based, ``functions.scalar``)
so every operator here is DuckDB-oracle-checkable — unlike MLlib's
MinHashLSH whose hash seeds are JVM-private.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataquality_ml_spark.functions.scalar import (
    bow_fingerprint,
    portable_hash32,
    portable_hash60,
    shingles,
    tokens,
)

#: A shingle appearing in d docs emits d·(d-1)/2 candidate pairs from the
#: inverted-index self-join; past this document frequency one boilerplate
#: shingle alone contributes >½M pairs — the quadratic blow-up the
#: ``on_hot_shingle`` contract guards against.
HOT_SHINGLE_DF = 1024

# MinHash universe: smallest prime > 2^32. Multipliers stay < 2^20 so
# a*h + b < 2^52 — exact in int64 AND float64, identical in every engine.
MINHASH_P = 4_294_967_311
_LCG_M, _LCG_A, _LCG_C = 2**31, 1103515245, 12345


def minhash_perms(num: int = 16, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation constants shared with the oracle."""
    x, out = seed, []
    for _ in range(num):
        x = (_LCG_A * x + _LCG_C) % _LCG_M
        a = (x % (2**20 - 1)) + 1
        x = (_LCG_A * x + _LCG_C) % _LCG_M
        b = x % (2**20)
        out.append((a, b))
    return out


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the bag-of-words fingerprint: one hash aggregation,
    keeper = min id per group (deterministic, unlike dropDuplicates)."""
    from dataquality_ml_spark.operators.relational import ensure_parallelism

    return (
        ensure_parallelism(df)
        .select(F.col(id_col), bow_fingerprint(text_col).alias("bow_fp"))
        .groupBy("bow_fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ingest dedup: from a NEW batch, keep only documents whose
    content fingerprint (a) is not already in the existing corpus and
    (b) is the first occurrence within the batch itself.

    This is the daily-append path of a training-data pipeline: the corpus
    side reduces to DISTINCT fingerprints (one narrow column — at 100 TB
    this is the only state the check needs, and it is exactly what you'd
    persist as a bloom/fingerprint table between runs), then a left-anti
    join drops already-seen content. Batch-internal dedup reuses the
    min-id-per-group keeper rule of ``dedup_exact``.
    """
    corpus_fps = corpus_df.select(
        bow_fingerprint(text_col).alias("bow_fp")
    ).distinct()
    batch = new_df.select(F.col(id_col), bow_fingerprint(text_col).alias("bow_fp"))
    first_in_batch = batch.groupBy("bow_fp").agg(F.min(id_col).alias(id_col))
    return first_in_batch.join(corpus_fps, "bow_fp", "left_anti").select(id_col)


class FingerprintBloom:
    """Bloom filter over content fingerprints — the persistable membership
    state for ``incremental_dedup_bloom``. Positions are Spark-side
    ``xxhash64(fp, i)`` for i in [0, num_hashes) mod ``num_bits``, so build
    and probe agree by construction and hashing always runs JVM-side.

    (Spark's internal BloomFilter aggregate — ``bloom_filter_agg`` — is not
    registered as a SQL-callable function in this Spark build, so the
    bitmap is engine-native: fixed-size numpy OR-reduction.)
    """

    def __init__(self, bits: bytes, num_bits: int, num_hashes: int):
        self.bits = bits
        self.num_bits = num_bits
        self.num_hashes = num_hashes

    @property
    def fill_ratio(self) -> float:
        """Fraction of set bits. ~0.5 at optimal load; near 1.0 the filter
        answers 'seen' for everything and dedup silently drops all new
        docs — build_fingerprint_bloom refuses to hand back such a filter."""
        import numpy as np

        arr = np.frombuffer(self.bits, dtype=np.uint8)
        return float(np.unpackbits(arr).mean()) if len(arr) else 0.0

    def position_cols(self, fp_col):
        return F.array(
            *[
                F.pmod(F.xxhash64(fp_col, F.lit(i)), F.lit(self.num_bits))
                for i in range(self.num_hashes)
            ]
        )


def build_fingerprint_bloom(
    corpus_df: DataFrame,
    text_col: str = "text",
    num_bits: int = 8_388_608,
    num_hashes: int = 5,
) -> FingerprintBloom:
    """One-pass Bloom filter build over the corpus's content fingerprints.

    At 100 TB the anti-join in ``incremental_dedup`` shuffles the DISTINCT
    corpus fingerprints every run; the Bloom filter is the standard fix:
    ONE corpus pass with NO shuffle — each Arrow batch sets its bits into a
    partition-local bitmap (``np.bitwise_or.at``), partitions emit one
    ``num_bits/8``-byte row each, and the driver ORs O(partitions) bitmaps
    (1 MiB default each, independent of corpus size). The artifact is what
    a daily pipeline persists between runs. False positives drop ~p of
    genuinely-new docs (p from bits/items/hashes); false negatives are
    impossible, so nothing already in the corpus ever sneaks through — the
    safe direction for dedup.
    """
    proto = FingerprintBloom(b"", num_bits, num_hashes)
    # NULL fingerprints (null/empty text) stay OUT of the filter: the exact
    # anti-join never matches NULL keys, so the bloom path must not claim
    # them as seen either (oracle parity on null-text corpora).
    pos_df = (
        corpus_df.select(bow_fingerprint(text_col).alias("__fp"))
        .where(F.col("__fp").isNotNull())
        .select(proto.position_cols(F.col("__fp")).alias("pos"))
    )
    bloom = FingerprintBloom(
        bitmap_from_positions(pos_df, num_bits), num_bits, num_hashes
    )
    if bloom.fill_ratio > 0.5:
        # past ~50% load the false-positive rate grows fast and dedup
        # starts silently discarding genuinely-new documents — refuse
        # rather than hand back a filter that eats data
        raise ValueError(
            f"bloom filter over capacity (fill {bloom.fill_ratio:.2f} > 0.5): "
            f"raise num_bits above {num_bits} for this corpus size"
        )
    return bloom


def bitmap_from_positions(pos_df: DataFrame, num_bits: int) -> bytes:
    """OR-reduce a relation of position arrays into one ``num_bits``-bit
    bitmap: each partition sets its bits locally per Arrow batch
    (``np.bitwise_or.at``) and emits one ``num_bits/8``-byte bitmap; the
    bitmaps then combine through an executor-side TREE reduction
    (``RDD.treeReduce``), so the driver receives exactly ONE bitmap no
    matter how many partitions scanned the corpus. (The round-3 verdict
    flagged the previous collect-and-OR: at 100 TB a useful bloom is GBs,
    and GB-sized rows × thousands of partitions don't collect.) Tree depth
    grows with the partition count so no single reducer ORs more than ~32
    maps. Shared by the batch builder and the streaming per-batch fold."""
    import math

    import numpy as np
    import pandas as pd

    n_bytes = num_bits // 8

    def _bitmaps(batches):
        bm = np.zeros(n_bytes, dtype=np.uint8)
        for pdf in batches:
            if len(pdf):
                pos = np.concatenate(pdf["pos"].to_numpy())
                np.bitwise_or.at(bm, pos // 8, (1 << (pos % 8)).astype(np.uint8))
        yield pd.DataFrame({"bm": [bm.tobytes()]})

    bitmaps = pos_df.mapInPandas(_bitmaps, "bm binary").rdd.map(
        lambda r: np.frombuffer(r["bm"], dtype=np.uint8)
    )
    n_parts = bitmaps.getNumPartitions()
    if n_parts == 0:
        return np.zeros(n_bytes, dtype=np.uint8).tobytes()
    # fan-in ~32 per level: depth 2 handles ≤1024 partitions, 3 to ~32k
    depth = max(2, math.ceil(math.log(max(n_parts, 2), 32)))
    acc = bitmaps.treeReduce(lambda a, b: a | b, depth=depth)
    return acc.tobytes()



def bloom_member_udf(spark, bloom: "FingerprintBloom"):
    """Vectorized bloom-membership test: broadcast the bitmap once, return
    a pandas_udf mapping a position-array column to a boolean column.
    Shared by the doc-level and span-level incremental dedup paths."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    bc = spark.sparkContext.broadcast(bloom.bits)

    # no annotations: `from __future__ import annotations` stringifies
    # locally-imported hints, breaking pandas_udf's type inference
    @pandas_udf(BooleanType())
    def in_bloom(pos):
        bm = np.frombuffer(bc.value, dtype=np.uint8)
        out = np.empty(len(pos), dtype=bool)
        for j, arr in enumerate(pos):
            p = np.asarray(arr)
            out[j] = bool(
                np.all(bm[p // 8] & (1 << (p % 8)).astype(np.uint8) != 0)
            )
        return pd.Series(out)

    return in_bloom


def incremental_dedup_bloom(
    new_df: DataFrame,
    bloom: FingerprintBloom,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filtered incremental dedup: keep batch docs whose content
    fingerprint is (a) definitely NOT in the corpus bloom (no false
    negatives → no already-seen doc survives) and (b) first in the batch.
    The bitmap rides a broadcast variable; membership is a vectorized
    numpy check per Arrow batch — zero corpus-side work per batch, the
    scale path of ``incremental_dedup`` (whose exact anti-join is the
    oracle in tests)."""
    in_bloom = bloom_member_udf(new_df.sparkSession, bloom)

    batch = new_df.select(
        F.col(id_col), bow_fingerprint(text_col).alias("__fp")
    )
    # NULL fingerprints are never in the filter (see build) — keep them,
    # matching the exact anti-join's NULL-key semantics
    fresh = batch.where(
        F.col("__fp").isNull() | ~in_bloom(bloom.position_cols(F.col("__fp")))
    )
    return (
        fresh.groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def with_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """(id, shingles) pairs — the shared input of the near-dup family.

    ``ensure_parallelism`` first: document corpora often arrive in few fat
    files, and shingling is the CPU-heavy step — without it the whole
    corpus tokenizes in however many partitions the scan produced.
    """
    from dataquality_ml_spark.operators.relational import ensure_parallelism

    # Token array in its OWN projection: normalize_text's unicode pandas
    # UDF may not be referenced inside higher-order lambdas (shingles'
    # transform/slice), so lambdas must see a materialized column.  This
    # also evaluates tokenization once per row instead of once per
    # reference.  Filter on the CHEAP equivalent predicate (shingles() is
    # empty exactly when the doc has < k tokens), not on size(shs): a
    # filter on the alias inlines the whole shingle expression into the
    # predicate, which then evaluates interpreted once for the filter and
    # again for the projection — measured 13× slower at sf0.1.
    base = ensure_parallelism(df).select(
        F.col(id_col), tokens(text_col).alias("_t")
    )
    return (
        base.where(F.size("_t") >= k)
        .select(F.col(id_col), shingles(F.col("_t"), k).alias("shs"))
    )


def with_hashed_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """(id, int-hashed distinct shingle set): md5 each shingle ONCE, keep
    only the compact bigint array — what signatures AND verification
    consume, so the cached relation is ints, not strings (~8× smaller)."""
    sh = with_shingles(df, text_col, id_col, k)
    return sh.select(
        F.col(id_col),
        F.array_distinct(F.transform(F.col("shs"), portable_hash32)).alias("hs"),
    )


def minhash_signatures(
    sh_df: DataFrame, num_perms: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signature per doc as ``num_perms`` array-min expressions over
    the hashed-shingle array — evaluated inside codegen, zero shuffles."""
    perms = minhash_perms(num_perms)

    def _perm_min(a: int, b: int):
        # single-arg closure (default-arg lambdas read as multi-arg HOFs)
        return F.array_min(
            F.transform(
                F.col("hs"),
                lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P),
            )
        )

    sig = F.array(*[_perm_min(a, b) for a, b in perms])
    return sh_df.select(F.col(id_col), sig.alias("sig"))


def _bucket_pairs(df: DataFrame, bucket_col: str, id_col: str, max_bucket: int | None = None) -> DataFrame:
    """All (id_a < id_b) pairs sharing a bucket, via groupBy + in-bucket
    expansion — ONE shuffle on the bucket key instead of a self-join that
    computes the upstream plan twice. Pair multiplicity = number of shared
    buckets (callers distinct() or count() as needed).

    ``max_bucket`` skips pathological buckets (boilerplate shingles at
    100 TB) — the standard LSH skew guard; None = exact.
    """
    grouped = (
        df.groupBy(bucket_col)
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .where(F.size("ids") > 1)
    )
    if max_bucket is not None:
        grouped = grouped.where(F.size("ids") <= max_bucket)
    pairs = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))"
    )
    # explode_outer, NOT explode: plain explode makes Catalyst's
    # InferFiltersFromGenerate rule inline the whole pair-expansion
    # expression into an inferred size()>0 filter, evaluating it twice per
    # group interpreted. The size(ids) > 1 guard above already makes the
    # pair array non-empty, so _outer is semantically identical.
    return grouped.select(
        F.col(bucket_col), F.explode_outer(pairs).alias("p")
    ).select(bucket_col, "p.id_a", "p.id_b")


def minhash_candidates(
    sig_df: DataFrame, bands: int = 4, rows: int = 4, id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: docs agreeing on all ``rows`` signature slots of any
    band become a candidate pair. Bucket grouping + in-bucket pair
    expansion — never a cross join, single shuffle."""
    banded = minhash_band_keys(sig_df, bands, rows, id_col)
    return _bucket_pairs(banded, "band", id_col, max_bucket).select("id_a", "id_b").distinct()


def jaccard_verify(
    pairs: DataFrame, sh_df: DataFrame, threshold: float, id_col: str = "doc_id",
    shingle_col: str = "hs",
) -> DataFrame:
    """Exact Jaccard on candidate pairs only (shingle arrays are distinct,
    so intersect/union sizes are set semantics). Works on the int-hashed
    shingle sets — cheap long comparisons instead of string compares."""
    a = sh_df.select(F.col(id_col).alias("id_a"), F.col(shingle_col).alias("sh_a"))
    b = sh_df.select(F.col(id_col).alias("id_b"), F.col(shingle_col).alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / union, 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perms: int = 16,
    bands: int = 4,
    rows: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle → hash → sign → band →
    bucket-join → exact-Jaccard verify."""
    # The hashed-shingle relation feeds three plan branches (signatures +
    # both sides of the verify join); checkpoint it so tokenization/
    # shingling/hashing runs once. Compact: one bigint array per doc. A
    # lazy local checkpoint, not .cache(): its blocks go with the returned
    # plan, while a cache entry would stay in the session's CacheManager
    # after every call.
    hs = with_hashed_shingles(df, text_col, id_col, k).localCheckpoint(eager=False)
    sig = minhash_signatures(hs, num_perms, id_col)
    cand = minhash_candidates(sig, bands, rows, id_col)
    return jaccard_verify(cand, hs, threshold, id_col).orderBy("id_a", "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.8,
    max_df: int | None = None,
    on_hot_shingle: str = "error",
    hot_df: int = HOT_SHINGLE_DF,
) -> DataFrame:
    """Near-dup pairs via the shingle inverted index (exact, no LSH recall
    loss): explode shingles, self-join on shingle, count shared, Jaccard.

    ``max_df`` drops shingles occurring in more than that many docs before
    the self-join (stop-shingle cap) — the knob that keeps the join from
    exploding on boilerplate at 100 TB.  With ``max_df=None`` the
    ``on_hot_shingle`` contract applies: ``'error'`` (default) raises if
    any shingle's document frequency exceeds ``hot_df``;
    ``'exact'`` opts into the uncapped quadratic join explicitly.
    """
    inter = _shingle_intersections(
        df, text_col, id_col, k, max_df, on_hot_shingle, hot_df
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def _shingle_intersections(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    max_df: int | None,
    on_hot_shingle: str = "error",
    hot_df: int = HOT_SHINGLE_DF,
) -> DataFrame:
    """Shared core of :func:`ngram_jaccard_pairs` and
    :func:`ngram_containment_pairs`: (id_a, id_b, n_inter, n_a, n_b) for
    every doc pair sharing ≥1 surviving shingle.

    ``on_hot_shingle`` (round 11, fit_features/smote loud-contract
    convention): with ``max_df=None`` the self-join is exact but goes
    quadratic on boilerplate shingles.  ``'error'`` (default) spends one
    bounded aggregation checking the hottest document frequency and
    raises past ``hot_df``; ``'exact'`` skips the check — the explicit
    100 TB opt-in acknowledging the pair-count risk."""
    if on_hot_shingle not in ("error", "exact"):
        raise ValueError(
            "on_hot_shingle must be 'error' or 'exact', got "
            f"{on_hot_shingle!r}"
        )
    # No cache: since the cheap-filter fix in with_shingles, recomputing the
    # shingle arrays per branch costs ~0.3s at sf0.1 while materializing the
    # string arrays into the columnar cache cost ~3s — the cache was the
    # bottleneck, not the recompute.
    sh = with_shingles(df, text_col, id_col, k)
    sizes = sh.select(F.col(id_col), F.size("shs").alias("n_sh"))
    # Bucket on a 60-bit hash of the shingle, not the string: ~8× smaller
    # shuffle keys, same pairs (collision odds ~n²/2^61). Hash AFTER the
    # explode (per flat row, inside codegen) rather than inside a transform
    # lambda (interpreted per array element).
    # (_outer: shs is non-empty by construction; see _bucket_pairs note.)
    ex = sh.select(F.col(id_col), F.explode_outer("shs").alias("_s")).select(
        F.col(id_col), portable_hash60(F.col("_s")).alias("s")
    )
    if max_df is not None:
        freq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        ex = ex.join(freq.where(F.col("df") <= max_df).select("s"), "s")
    elif on_hot_shingle == "error":
        # the loud-contract pre-check below evaluates ex (tokenize +
        # shingle + explode + hash) as its own job and the main plan
        # evaluates it again — checkpoint so the check materializes what
        # the join consumes. Unlike the string-array cache this comment
        # block used to warn about, ex is two longs per row (~16 B), so
        # the persist is cheap (guide §2.4, round 13).
        ex = ex.localCheckpoint(eager=False)
        hottest = (
            ex.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .agg(F.max("df").alias("m"))
            .first()["m"]
        )
        if hottest is not None and hottest > hot_df:
            raise ValueError(
                f"hottest shingle appears in {hottest} docs (> {hot_df}): "
                "the uncapped self-join would emit "
                f"~{hottest * (hottest - 1) // 2} pairs from that shingle "
                "alone. Pass max_df= to cap stop-shingles (subquadratic, "
                "approximate) or on_hot_shingle='exact' to accept the "
                "exact quadratic cost."
            )
    # Shared-shingle counting via bucket expansion (one shuffle on the
    # shingle hash); pair multiplicity = |A ∩ B|.
    inter = (
        _bucket_pairs(ex, "s", id_col, max_bucket=None)
        .select("id_a", "id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.9,
    max_df: int | None = None,
    on_hot_shingle: str = "error",
    hot_df: int = HOT_SHINGLE_DF,
) -> DataFrame:
    """DIRECTIONAL near-duplicate detection — shingle containment
    C(A,B) = |A∩B| / |A| (Broder 1997's companion to resemblance):
    catches a document that is a near-SUBSET of another (quoted article
    inside a wrapper page, boilerplate-padded copy) where symmetric
    Jaccard stays low because the superset's extra mass dilutes the
    union. Emits both directions per pair —
    (id_a, id_b, containment_a, containment_b, jaccard) where
    containment_a = how much of A sits inside B — filtered on
    max(containment) ≥ ``threshold``. Same inverted-index shape (one
    shuffle on the shingle hash, ``max_df`` stop-shingle cap, same
    ``on_hot_shingle`` loud contract when uncapped) as
    :func:`ngram_jaccard_pairs`; only the final ratio changes."""
    inter = _shingle_intersections(
        df, text_col, id_col, k, max_df, on_hot_shingle, hot_df
    )
    ca = F.round(F.col("n_inter") / F.col("n_a"), 4) + F.lit(0.0)
    cb = F.round(F.col("n_inter") / F.col("n_b"), 4) + F.lit(0.0)
    jac = F.round(
        F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
    ) + F.lit(0.0)
    return (
        inter.select(
            "id_a",
            "id_b",
            ca.alias("containment_a"),
            cb.alias("containment_b"),
            jac.alias("jaccard"),
        )
        .where(
            F.greatest(F.col("containment_a"), F.col("containment_b"))
            >= F.lit(threshold)
        )
        .orderBy("id_a", "id_b")
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """TF-weighted SimHash fingerprint: per-token 32-bit hash, bit-wise
    ±tf vote, sign → fingerprint.

    ONE map-side-combined aggregation: a ±tf-weighted vote equals a ±1
    vote per token OCCURRENCE, so the former per-(doc, token) tf grouping
    — a full shuffle of every token occurrence — is dropped and the bit
    sums partial-aggregate straight to per-doc rows before the only
    shuffle. Identical fingerprints (same oracle), one less shuffle.

    ``bits`` is the Hamming-banding collision knob: with ``bits=32`` and
    k=3 each band carries 8 bits — only 256 values, so band buckets (and
    with them candidate pairs) grow quadratically once the corpus far
    exceeds ~1k distinct fingerprints per band value.  ``bits`` up to 60
    (15-bit bands at k=3, 32k values — 128× fewer collisions) switches to
    the 60-bit portable hash; the registered 32-bit queries and their
    oracles are unchanged."""
    from dataquality_ml_spark.operators.relational import ensure_parallelism

    if bits > 60:
        raise ValueError("bits must be <= 60 (portable_hash60 ceiling)")
    token_hash = portable_hash32 if bits <= 32 else portable_hash60
    ex = (
        ensure_parallelism(df)
        .select(F.col(id_col), F.explode_outer(tokens(text_col)).alias("w"))
        .withColumn("h", token_hash(F.col("w")))
    )
    bit_sums = ex.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.expr(f"(h div {1 << j}) % 2") == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(bits)
        ]
    )
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return bit_sums.select(F.col(id_col), fp.cast("bigint").alias("simhash"))


def simhash_dup_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup pairs = identical SimHash (Hamming 0); for Hamming ≤ k see
    ``simhash_hamming_pairs``.

    Join-shaped expansion: the self-join on the fingerprint key streams
    each duplicate class's pairs instead of collecting the class into one
    task-local array (the single-task hotspot on boilerplate corpora)."""
    fps = simhash(df, text_col, id_col).localCheckpoint(eager=False)
    return (
        fps.alias("x")
        .join(fps.alias("y"), "simhash")
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            "simhash",
        )
        .orderBy("id_a", "id_b")
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    bits: int = 32,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ k, via fingerprint
    banding (Manku et al., WWW'07 pattern): split the ``bits``-bit
    fingerprint into k+1 bands — any pair within Hamming k must agree
    EXACTLY on at least one band (pigeonhole), so candidates come from a
    groupBy on (band index, band value) buckets, never an all-pairs join.
    Exact verification is one ``bit_count(xor)`` per candidate pair.

    100 TB shape: linear fingerprinting (see ``simhash``), then EVERYTHING
    up to the final output runs on the DISTINCT-FINGERPRINT relation, not
    the corpus: banding, bucket pairing and the ``bit_count`` verify see
    one row per fingerprint CLASS.  A corpus where thousands of documents
    share a fingerprint (boilerplate, tiny vocabularies — exactly the
    near-dup-heavy corpora this operator exists for) previously put every
    member in every band bucket, and the in-bucket expansion went
    quadratic in the duplicate count before verification could discard
    anything (measured 2.9 s → 219 s on a 10× synthetic corpus, α≈1.9).
    Class-level banding makes candidate generation scale with DISTINCT
    fingerprints; member expansion happens once, join-shaped, only for
    verified class pairs — the remaining quadratic term is the output
    itself, which the pair contract requires.  ``max_bucket`` caps band
    buckets in fingerprint-class units AND identical-fingerprint classes
    in member units (None = exact, as before).
    """
    nb = k + 1
    width = bits // nb
    # localCheckpoint, not cache(): same multi-branch reuse (fingerprints
    # feed classes + both member-expansion sides), but the blocks are
    # owned by the RDD and reclaimed when it goes out of scope — cache()
    # entries live in the catalog forever unless the caller unpersists,
    # leaking executor storage across repeated calls in a long session.
    fps = simhash(df, text_col, id_col, bits).localCheckpoint(eager=False)
    fcls = fps.select("simhash").distinct().localCheckpoint(eager=False)

    band_keys = []
    for b in range(nb):
        lo = b * width
        # Integer bit arithmetic only: float division is exact merely while
        # fingerprints stay non-negative and < 2^53; shiftrightunsigned is
        # exact for any bigint, and the last band needs no mask (the shift
        # already dropped everything below it).
        shifted = F.shiftrightunsigned(F.col("simhash"), lo)
        val = shifted if b == nb - 1 else F.pmod(shifted, F.lit(1 << width))
        band_keys.append(F.concat_ws("-", F.lit(str(b)), val.cast("string")))
    # _outer: literal-length non-empty array; see _bucket_pairs note.
    banded = fcls.select(
        F.col("simhash"), F.explode_outer(F.array(*band_keys)).alias("band")
    )
    fp_pairs = (
        _bucket_pairs(banded, "band", "simhash", max_bucket)
        .select(F.col("id_a").alias("fp_a"), F.col("id_b").alias("fp_b"))
        .distinct()
        .withColumn(
            "hamming", F.expr("bit_count(fp_a ^ fp_b)").cast("int")
        )
        .where(F.col("hamming") <= F.lit(k))
    )
    # Intra-class pairs: identical fingerprints, Hamming 0 by definition.
    # Join-shaped expansion, like the cross-class path: a sort-merge
    # self-join on the fingerprint key STREAMS the N²/2 pairs of an
    # N-member duplicate class, where the former collect_set bucket
    # expansion materialized every member — and then every pair — inside
    # ONE task's row on exactly the boilerplate-heavy corpora this
    # operator targets (ADVICE r6).  ``max_bucket`` now also bounds this
    # side (member units: classes larger than the cap are skipped, the
    # same guard the band buckets get; None = exact, as before).
    csize = fps.groupBy("simhash").agg(F.count(F.lit(1)).alias("_n"))
    eligible = csize.where(F.col("_n") > 1)
    if max_bucket is not None:
        eligible = eligible.where(F.col("_n") <= max_bucket)
    fpe = fps.join(eligible.select("simhash"), "simhash")
    intra = (
        fpe.alias("x")
        .join(fpe.alias("y"), "simhash")
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    ma = fps.select(F.col("simhash").alias("fp_a"), F.col(id_col).alias("_ia"))
    mb = fps.select(F.col("simhash").alias("fp_b"), F.col(id_col).alias("_ib"))
    cross = (
        fp_pairs.join(ma, "fp_a")
        .join(mb, "fp_b")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "hamming",
        )
    )
    return intra.unionByName(cross).orderBy("id_a", "id_b")


# ===========================================================================
# Sub-document (span / line / paragraph) exact dedup
# ===========================================================================


def dedup_spans(
    chunks: DataFrame,
    span_col: str = "chunk_text",
    id_col: str = "doc_id",
    pos_col: str = "chunk_idx",
    min_count: int = 2,
    keep_first: bool = True,
) -> DataFrame:
    """Sub-document exact dedup — the line/paragraph-level pass of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models Better")
    and the CCNet/RefinedWeb line-dedup rule, over any pre-split span
    frame: newline paragraphs for real corpora, ``text.chunk_documents``
    token windows for unstructured streams (use ``overlap=0`` — spans must
    tile the doc or reconstruction double-counts).

    A span occurrence is a duplicate candidate when its exact text occurs
    ``>= min_count`` times corpus-wide. Policy: with ``keep_first`` the
    global first occurrence (smallest ``(doc_id, pos)``) survives and every
    later copy is dropped (Lee et al.: keep one); without it every copy of
    a repeated span is dropped (Gopher/RefinedWeb: repeated boilerplate is
    noise — remove it everywhere).

    Scale shape — skew first: the spans this operator exists to remove
    are boilerplate, i.e. the corpus's HOTTEST keys (a cookie banner can
    occur billions of times at 100 TB). So the decision must never sort
    one span's occurrences in one task — a `row_number() over (partition
    by span)` window does exactly that, and AQE cannot split window
    partitions (skew handling applies to sort-merge joins only). Instead:
    both the corpus-wide count and the global first occurrence are
    ALGEBRAIC aggregates (count, min of a (doc, pos) struct) over a
    60-bit hash of the span text, so map-side partial aggregation
    collapses the hot key to one row per task before the shuffle; the
    stats then join back to the span table on the narrow 8-byte hash,
    where AQE's skew-join split handles the hot span's probe rows. Span
    text is assumed pre-normalized (``chunk_documents`` emits normalized
    tokens).

    Output: one row per input span with ``span_count`` and the ``kept``
    decision — feed to ``reconstruct_spans`` to fold back into documents.
    NULL span text (possible in caller-split frames; never produced by
    ``chunk_documents``) carries no content to compare — such rows come
    back ``kept`` with ``span_count`` 1 instead of silently vanishing
    through a null join key.
    """
    marked = chunks.withColumn("_span_h", portable_hash60(F.col(span_col)))
    nulls = marked.where(F.col(span_col).isNull()).select(
        id_col,
        pos_col,
        span_col,
        F.lit(1).cast("bigint").alias("span_count"),
        F.lit(True).alias("kept"),
    )
    marked = marked.where(F.col(span_col).isNotNull())
    stats = marked.groupBy("_span_h").agg(
        F.count(F.lit(1)).alias("span_count"),
        F.min(F.struct(F.col(id_col), F.col(pos_col))).alias("_first"),
    )
    joined = marked.join(stats, "_span_h")
    is_first = (F.col(id_col) == F.col("_first")[id_col]) & (
        F.col(pos_col) == F.col("_first")[pos_col]
    )
    kept = (F.col("span_count") < F.lit(min_count)) | (
        F.lit(keep_first) & is_first
    )
    return joined.select(
        id_col,
        pos_col,
        span_col,
        F.col("span_count"),
        kept.alias("kept"),
    ).unionByName(nulls)


def reconstruct_spans(
    marked: DataFrame,
    span_col: str = "chunk_text",
    id_col: str = "doc_id",
    pos_col: str = "chunk_idx",
    sep: str = " ",
) -> DataFrame:
    """Fold a ``dedup_spans`` decision frame back into one row per
    document: surviving spans re-joined in position order plus removal
    counts. One groupBy on the doc id (map-side combine applies; the
    collect_list is bounded by the document's own span count, never the
    corpus)."""
    kept_span = F.when(
        F.col("kept"),
        F.struct(F.col(pos_col).alias("p"), F.col(span_col).alias("s")),
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).alias("n_removed"),
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(kept_span)), lambda x: x["s"]
            ),
        ).alias("clean_text"),
    )


# ===========================================================================
# Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken — SIGMOD'03)
# ===========================================================================


_ROLL_MOD = 1 << 44  # rolling k-gram hash space; products stay < 2^61


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowed fingerprint selection: from the ORDERED k-gram hash
    sequence, keep the minimum hash of every w-length window (the MOSS
    algorithm). Guarantee: any shared substring of at least w+k-1 tokens
    between two documents shares at least one selected fingerprint — but
    only ~2/(w+1) of the k-gram hashes are kept, so the inverted index a
    near-dup join builds is ~w× smaller than the full shingle index. That
    index-density/guarantee trade is the knob that keeps substring-level
    dedup affordable at 100 TB where full shingle indexing is not.

    Pure array expressions per row (two nested transforms + slices) — no
    UDF, no shuffle; docs shorter than k tokens yield an empty set, and a
    hash sequence shorter than w degenerates to its single global min
    (the guarantee still holds — the whole doc is one window).

    The k-gram hash sequence is materialized as its OWN projection before
    the window-min pass. Folding both into one expression re-expands the
    md5 transform at every reference inside the window lambda, and the
    resulting expression tree ran ~30× slower (24s → 0.8s at sf0.001,
    data-size-independent — codegen/eval blowup, not I/O). Two selects
    with ≥2 non-cheap references keep CollapseProject from re-inlining.

    Output: (id, winnow_fps array<bigint>) — distinct selected hashes.
    """
    t = tokens(text_col)
    n_sh = F.size(t) - (k - 1)
    # md5 once per TOKEN; each k-gram hash is a bounded rolling combine of
    # its token hashes (x = x·65599 + h mod 2^44 — x < 2^44 keeps every
    # product < 2^61, because DuckDB errors on bigint overflow where Spark
    # silently wraps). Same number-theoretic recipe as the DSIR bigram
    # buckets; cuts the md5 count from |shingles|·k chars to |tokens|.
    th = F.transform(t, lambda w: portable_hash32(w))
    tokhash = df.select(F.col(id_col), th.alias("_th"), n_sh.alias("_nsh"))
    seq = F.transform(
        F.sequence(F.lit(1), F.greatest(F.col("_nsh"), F.lit(1))),
        lambda i: F.aggregate(
            F.slice(F.col("_th"), i, k),
            F.lit(0).cast("bigint"),
            lambda acc, h: F.pmod(acc * F.lit(65599) + h, F.lit(_ROLL_MOD)),
        ),
    )
    hashed = tokhash.select(
        F.col(id_col),
        F.when(F.col("_nsh") >= 1, seq)
        .otherwise(F.array().cast("array<bigint>"))
        .alias("_hseq"),
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("_hseq") - (w - 1), F.lit(1))
    )
    mins = F.transform(
        starts, lambda j: F.array_min(F.slice(F.col("_hseq"), j, w))
    )
    fps = F.when(F.size("_hseq") >= 1, F.array_distinct(mins)).otherwise(
        F.array().cast("array<bigint>")
    )
    return hashed.select(F.col(id_col), fps.alias("winnow_fps"))


def winnow_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs from the winnowed index: explode the
    selected fingerprints, bucket-join on the 60-bit hash, count shared
    prints per pair, keep pairs sharing at least ``min_shared``. Same
    inverted-index shape as ``ngram_jaccard_pairs`` but over the ~w×
    sparser winnowed index; ``max_bucket`` caps a degenerate boilerplate
    fingerprint's bucket exactly like the LSH banding paths."""
    fps = winnow_fingerprints(df, text_col, id_col, k, w)
    ex = fps.select(
        F.col(id_col), F.explode_outer("winnow_fps").alias("fp")
    ).where(F.col("fp").isNotNull())
    return (
        _bucket_pairs(ex, "fp", id_col, max_bucket)
        .select("id_a", "id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= F.lit(min_shared))
        .orderBy("id_a", "id_b")
    )


def minhash_band_keys(
    sig_df: DataFrame, bands: int = 4, rows: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """Exploded (id, band-key) relation from a signature table — the
    join-ready form of the LSH banding used both by the batch pair
    search and the incremental batch-vs-corpus probe."""
    band_key = lambda b: F.concat_ws(  # noqa: E731
        "-",
        F.lit(str(b)),
        F.concat_ws(
            ",",
            F.transform(
                F.slice("sig", b * rows + 1, rows), lambda x: x.cast("string")
            ),
        ),
    )
    return sig_df.select(
        F.col(id_col),
        F.explode_outer(
            F.array(*[band_key(b) for b in range(bands)])
        ).alias("band"),
    )


def sig_jaccard_estimate(sig_a, sig_b, num_perms: int = 16):
    """MinHash Jaccard ESTIMATE from two signature arrays: the fraction of
    agreeing components (E[match] = J). The signature-only verification
    used when the corpus's shingle sets are not retained."""
    eq = F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int"))
    return F.round(
        F.aggregate(eq, F.lit(0), lambda acc, v: acc + v)
        / F.lit(float(num_perms)),
        4,
    )


def incremental_minhash_dedup(
    new_df: DataFrame,
    corpus_sigs: DataFrame,
    threshold: float = 0.5,
    bands: int = 4,
    rows: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Incremental NEAR-dup against a persisted corpus: the daily-append
    sibling of ``incremental_dedup`` (exact) and ``minhash_dedup_pairs``
    (batch all-pairs). The corpus state is SIGNATURES ONLY —
    |corpus| × num_perms longs, the artifact a pipeline persists between
    runs — so verification is the signature-agreement Jaccard estimate,
    not exact shingle Jaccard (document the estimator variance: with 16
    perms the estimate moves in 1/16 steps; raise num_perms for finer
    thresholds).

    Plan: the new batch computes shingles + signatures (narrow, zero
    shuffle), both sides explode to band keys, and candidates come from
    an equi-join on the band key — new-batch-sized build side against the
    corpus index; the corpus never re-shingles. Output: one row per
    (new doc, corpus doc) flagged pair with ``est_jaccard >= threshold``;
    anti-join the batch against the ``doc_id`` column for survivors.
    """
    new_sigs = minhash_signatures(
        with_hashed_shingles(new_df, text_col, id_col), id_col=id_col
    )
    nb = minhash_band_keys(new_sigs, bands, rows, id_col).withColumnRenamed(
        id_col, "_new_id"
    )
    cb = minhash_band_keys(corpus_sigs, bands, rows, id_col).withColumnRenamed(
        id_col, "corpus_id"
    )
    if max_bucket is not None:
        hot = (
            cb.groupBy("band")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket)
            .select("band")
        )
        cb = cb.join(hot, "band", "left_anti")
    cand = nb.join(cb, "band").select("_new_id", "corpus_id").distinct()
    sa = new_sigs.select(
        F.col(id_col).alias("_new_id"), F.col("sig").alias("_sig_a")
    )
    sb = corpus_sigs.select(
        F.col(id_col).alias("corpus_id"), F.col("sig").alias("_sig_b")
    )
    num_perms = len(minhash_perms())
    return (
        cand.join(sa, "_new_id")
        .join(sb, "corpus_id")
        .select(
            F.col("_new_id").alias(id_col),
            "corpus_id",
            sig_jaccard_estimate(
                F.col("_sig_a"), F.col("_sig_b"), num_perms
            ).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= F.lit(threshold))
        .orderBy(id_col, "corpus_id")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_key,
    id_col: str = "doc_id",
    window: int = 5,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995): order the
    corpus by a normalized ``sort_key`` expression and emit every id pair
    within ``window`` positions — the classic record-linkage candidate
    generator that catches near-duplicates whose shingle sets diverge
    (typos concentrated early in the text, truncated copies) as long as
    the sort key brings them near each other. Returns (id_a, id_b,
    rank_distance), id_a < id_b by rank; feed the pairs to
    ``jaccard_verify``-style scorers.

    Scale shape: the global rank comes from the DISTRIBUTED prefix sum
    (range partition + per-partition subtotals — no single-task window);
    the neighborhood join buckets ranks by ``window`` and the left side
    is EXPLODED into its own bucket and the successor bucket so the join
    is a single equality on the bucket key (SortMergeJoin — Catalyst
    cannot extract an equi-key from an OR of two equalities, which would
    physically plan a CartesianProduct). The 2× row duplication is the
    whole cost; every row still meets at most 2·window candidates
    regardless of corpus size. Ties in ``sort_key`` order
    deterministically by ``id_col``.
    """
    from dataquality_ml_spark.operators.relational import exclusive_prefix_sum

    key = F.col(sort_key) if isinstance(sort_key, str) else sort_key
    # unique, order-preserving composite: (key, id) — epfs needs one
    # sortable column, and the id tie-break keeps ranks deterministic
    base = df.select(
        F.col(id_col).alias("__id"),
        F.struct(key.alias("k"), F.col(id_col).alias("i")).alias("__ord"),
    )
    ranked = exclusive_prefix_sum(
        base.withColumn("__one", F.lit(1)), "__ord", "__one", out="__rank"
    ).select("__id", F.col("__rank").cast("bigint").alias("r"))
    b = ranked.withColumn("__b", F.floor(F.col("r") / window))
    # a pair with 0 < r2-r <= window spans at most one bucket boundary,
    # so bucket(r2) ∈ {bucket(r), bucket(r)+1}: explode the left row into
    # both target buckets and join on a single equality
    lhs = b.select(
        "__id",
        "r",
        F.explode(F.array(F.col("__b"), F.col("__b") + F.lit(1))).alias("__jb"),
    )
    rhs = b.select(
        F.col("__id").alias("__id2"),
        F.col("r").alias("r2"),
        F.col("__b").alias("__b2"),
    )
    return (
        lhs.join(rhs, F.col("__jb") == F.col("__b2"))
        .where(
            (F.col("r2") > F.col("r"))
            & (F.col("r2") - F.col("r") <= F.lit(int(window)))
        )
        .select(
            F.col("__id").alias("id_a"),
            F.col("__id2").alias("id_b"),
            (F.col("r2") - F.col("r")).alias("rank_distance"),
        )
    )


def sorted_neighborhood_multipass(
    df: DataFrame,
    sort_keys,
    id_col: str = "doc_id",
    window: int = 5,
) -> DataFrame:
    """Multi-pass sorted-neighborhood (Hernández & Stolfo 1995 §3.3):
    run the single-key neighborhood generator once per sort key (prefix,
    reversed prefix, token-sorted key, ...) and union the candidate
    pairs — the standard recipe, because any ONE key misses duplicates
    whose discrepancy lands early in that key (a typo in the first
    character defeats a prefix sort but not a reversed or token-sorted
    one). Returns (id_a, id_b, n_passes, min_rank_distance) with
    id_a < id_b by ID VALUE (each pass orders pairs by its own rank, so
    the union canonicalizes with least/greatest before grouping);
    n_passes counts the passes that proposed the pair — a cheap
    confidence signal for downstream verifiers.

    Scale shape: each pass is the exploded adjacent-bucket equi-join of
    :func:`sorted_neighborhood_pairs` (≤2·window candidates per row, no
    cartesian), and the final dedup is one groupBy on the pair key —
    |passes|·|rows|·window shuffle rows total.
    """
    from functools import reduce

    if not sort_keys:
        raise ValueError("sorted_neighborhood_multipass: need >=1 sort key")
    passes = []
    for i, key in enumerate(sort_keys):
        p = sorted_neighborhood_pairs(df, key, id_col=id_col, window=window)
        passes.append(
            p.select(
                F.lit(i).alias("__pass"),
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                "rank_distance",
            )
        )
    allp = reduce(DataFrame.unionAll, passes)
    # within one pass ranks are unique, so a pair appears at most once
    # per pass — plain count == distinct pass count
    return allp.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("int").alias("n_passes"),
        F.min("rank_distance").alias("min_rank_distance"),
    )


def chao1_duplicate_richness(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Capture-recapture estimate of the corpus's TRUE distinct-content
    count from the duplicate-cluster size histogram — Chao1 (Chao 1984,
    bias-corrected): Ŝ = S_obs + f₁(f₁−1)/(2(f₂+1)), where f₁/f₂ are the
    singleton/doubleton cluster counts. The dedup-QA question it answers:
    how many distinct documents would we see with MORE data — i.e. how
    much near-singleton content the crawl hasn't re-captured yet. Also
    reports Good-Turing sample coverage C = 1 − f₁/n (the probability
    mass of already-seen content) and the duplication rate. One row:
    (n_docs, s_obs, f1, f2, chao1_estimate, coverage, dup_rate).

    Scale shape: the cluster histogram is ``dedup_exact``'s one hash
    aggregation; everything after runs over the ≤|max cluster size|
    histogram relation. All inputs are exact integer counts; the
    estimate is one fixed float expression over them.
    """
    sizes = dedup_exact(df, text_col, id_col).groupBy("n_copies").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
    one = F.sum(F.when(F.col("n_copies") == 1, F.col("n_clusters")).otherwise(0))
    two = F.sum(F.when(F.col("n_copies") == 2, F.col("n_clusters")).otherwise(0))
    s_obs = F.sum("n_clusters")
    n_docs = F.sum(F.col("n_copies") * F.col("n_clusters"))
    return sizes.agg(
        n_docs.cast("bigint").alias("n_docs"),
        s_obs.cast("bigint").alias("s_obs"),
        one.cast("bigint").alias("f1"),
        two.cast("bigint").alias("f2"),
        (
            s_obs
            + one.cast("double") * (one - 1) / (2.0 * (two + 1))
        ).alias("chao1_estimate"),
        (F.lit(1.0) - one / n_docs.cast("double")).alias("coverage"),
        (F.lit(1.0) - s_obs / n_docs.cast("double")).alias("dup_rate"),
    )


def linkage_score_pairs(
    df: DataFrame,
    pairs: DataFrame,
    compare_col: str,
    id_col: str = "doc_id",
    threshold: float = 0.0,
    max_key_len: int = 64,
    on_long: str = "error",
) -> DataFrame:
    """Record-linkage verification: score blocking candidates (id_a,
    id_b) — from :func:`sorted_neighborhood_pairs` / LSH banding — with
    Jaro-Winkler similarity over each record's ``compare_col`` and keep
    pairs ≥ ``threshold``. The classic two-stage linkage pipeline:
    blocking bounds the candidates, the string scorer decides. Returns
    (id_a, id_b, jw).

    Scale shape: two equi-joins attach the comparison keys (candidate
    relation is blocking-bounded, ≤ 2·window·n); the scorer is an
    Arrow-batched pandas UDF of the textbook Jaro-Winkler (bit-identical
    to DuckDB's — functions.scalar._jaro_winkler_py), never
    row-at-a-time. ``compare_col`` must be short (a normalized prefix):
    the per-pair DP is O(|a|·|b|), so an accidental full-text key turns
    every candidate into an O(|text|²) Python comparison — ONE bounded
    ``max(length())`` pre-check enforces ``max_key_len`` and either
    RAISES (``on_long='error'``, the hot_df / max_items_per_basket
    loud-contract convention) or truncates both sides
    (``on_long='truncate'`` — changes scores for the over-long rows,
    so opting in is explicit).
    """
    from dataquality_ml_spark.functions.scalar import jaro_winkler_udf

    if on_long not in ("error", "truncate"):
        raise ValueError(
            f"linkage_score_pairs: on_long must be 'error' or 'truncate', "
            f"got {on_long!r}"
        )
    if max_key_len < 1:
        raise ValueError(
            f"linkage_score_pairs: max_key_len must be >= 1, got {max_key_len}"
        )
    key = F.col(compare_col)
    longest = df.agg(F.max(F.length(key)).alias("m")).first()["m"]
    if longest is not None and int(longest) > max_key_len:
        if on_long == "error":
            raise ValueError(
                f"linkage_score_pairs: longest {compare_col!r} is {longest} "
                f"chars > max_key_len={max_key_len} — the per-pair DP is "
                "O(|a|*|b|); pass a normalized prefix, raise max_key_len "
                "deliberately, or set on_long='truncate'"
            )
        key = F.substring(key, 1, max_key_len)
    lhs = df.select(F.col(id_col).alias("id_a"), key.alias("__ka"))
    rhs = df.select(F.col(id_col).alias("id_b"), key.alias("__kb"))
    jw = jaro_winkler_udf()
    return (
        pairs.join(lhs, "id_a")
        .join(rhs, "id_b")
        .withColumn("jw", jw(F.col("__ka"), F.col("__kb")))
        .where(F.col("jw") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "jw")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """All-pairs exact-Jaccard join via PREFIX FILTERING (round 13) — the
    AllPairs/PPJoin candidate-generation strategy (Bayardo et al. WWW'07;
    Xiao et al. WWW'08) re-expressed relationally.

    Where :func:`ngram_jaccard_pairs` joins the FULL shingle inverted
    index (and needs the ``on_hot_shingle`` cap because boilerplate
    shingles go quadratic), this operator joins only each document's
    *prefix* under a global rarest-first token order:

    1. hash-shingle each doc (portable md5 ints, distinct set of size n);
    2. rank every shingle by corpus document frequency asc (ties by
       shingle value — engine-portable);
    3. keep each doc's first ``n - ceil(t*n) + 1`` shingles in that
       order.  Completeness: two sets with Jaccard >= t must share >=
       ceil(t*max(|a|,|b|)) tokens, so each side's probe prefix provably
       intersects the other's (the AllPairs prefix lemma) — candidate
       recall is exact, no LSH loss;
    4. equi-join prefixes on the shingle, apply the SIZE filter
       (den*min(n_a,n_b) >= num*max — Jaccard >= t forces
       |b| >= t*|a|), distinct the pairs;
    5. verify exact Jaccard on candidates only (:func:`jaccard_verify`).

    Scale: the join touches only prefix tokens, which are the RAREST
    tokens by construction — the inverted index the join builds is
    naturally cold, so no hot-key cap is needed where the full-index
    form requires one.  The per-doc ranking window partitions by doc.
    Threshold arithmetic is integer (num/den = round(t*1e6)/1e6), so
    prefix lengths are bit-identical across engines.  Differentially
    tested against the exact full-index form in tests/test_round13_ops.
    """
    from pyspark.sql import Window

    num, den = int(round(threshold * 1_000_000)), 1_000_000
    # lazy local checkpoint, not .cache(): see minhash_dedup_pairs
    hs = with_hashed_shingles(df, text_col, id_col, k).localCheckpoint(eager=False)
    ex = hs.select(
        F.col(id_col), F.size("hs").alias("n"), F.explode("hs").alias("s")
    )
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("dfc"))
    w = Window.partitionBy(id_col).orderBy(F.col("dfc").asc(), F.col("s").asc())
    pos = ex.join(dfreq, "s").withColumn("pos", F.row_number().over(w))
    # prefix length = n - ceil(num*n/den) + 1, via exact integer floor-div
    ceil_tn = ((F.lit(num) * F.col("n") + F.lit(den - 1)) / F.lit(den)).cast(
        "long"
    )
    # Materialize the ranked prefix ONCE (round 14, guide §2.4): both
    # sides of the candidate self-join consume `pref`, and without a
    # barrier Spark re-evaluates the whole subtree per side — the dfreq
    # groupBy, its join, and the per-doc rank window each ran TWICE
    # (visible as duplicated Exchange/Sort pairs in the r14 before-plan).
    # EAGER because two joins inside one query race a lazy persist (the
    # r13 pagerank lesson); the relation is the prefix tokens only
    # (~(1-t)·|shingles| rows of two longs + an int).
    pref = (
        pos.where(F.col("pos") <= F.col("n") - ceil_tn + F.lit(1))
        .select(F.col(id_col), "s", "n")
        .localCheckpoint(eager=True)
    )
    a = pref.select(F.col(id_col).alias("id_a"), "s", F.col("n").alias("n_a"))
    b = pref.select(F.col(id_col).alias("id_b"), "s", F.col("n").alias("n_b"))
    cand = (
        a.join(b, "s")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.lit(den) * F.least("n_a", "n_b")
            >= F.lit(num) * F.greatest("n_a", "n_b")
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return jaccard_verify(cand, hs, threshold, id_col).orderBy("id_a", "id_b")


def dup_source_matrix(
    pairs: DataFrame,
    src_df: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplication matrix — WHERE the near-duplication in a
    corpus lives: fold any near-dup PAIRS relation (minhash, prefix
    filter, simhash…) over the doc→source mapping into one
    (source_a, source_b, n_pairs[, avg_jaccard]) row per unordered
    source pair. The off-diagonal cells are the contamination alarms
    (train↔benchmark, crawl↔crawl mirror); the diagonal is ordinary
    within-source boilerplate. Composable by design: pass the pair
    relation you already computed — this operator adds two broadcast-
    sized dimension joins and one bounded groupBy, nothing quadratic.
    """
    a = src_df.select(
        F.col(id_col).alias("id_a"), F.col(source_col).alias("__sa")
    )
    b = src_df.select(
        F.col(id_col).alias("id_b"), F.col(source_col).alias("__sb")
    )
    j = pairs.join(a, "id_a").join(b, "id_b")
    lo = F.least("__sa", "__sb")
    hi = F.greatest("__sa", "__sb")
    aggs = [F.count(F.lit(1)).alias("n_pairs")]
    if "jaccard" in pairs.columns:
        aggs.append(F.avg("jaccard").alias("avg_jaccard"))
    return (
        j.groupBy(lo.alias("source_a"), hi.alias("source_b"))
        .agg(*aggs)
        .orderBy("source_a", "source_b")
    )
