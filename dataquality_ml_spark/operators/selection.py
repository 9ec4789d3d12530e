"""Data-selection operators: DSIR importance resampling.

Implements the hashed-n-gram importance-resampling selector of Xie et al.
2023 ("Data Selection for Language Models via Importance Resampling",
NeurIPS 2023) Spark-first:

- features = unigrams + adjacent bigrams, hashed into ``num_buckets``
  buckets with the engine-portable md5 hash (so the DuckDB oracle can
  recompute every step bit-for-bit);
- bag-of-hashed-ngrams models fit on the target and the raw (candidate)
  corpus are two map-side-combined ``groupBy(bucket)`` aggregations whose
  outputs are ``num_buckets`` rows — joined back to the exploded doc
  features as an (AQE-) broadcast join, never a shuffle of the corpus
  against itself;
- per-doc log importance weight = sum of per-bucket log-ratios, one
  ``groupBy(doc_id)``;
- resampling uses the Gumbel top-k trick (sample k docs ∝ w_i without
  replacement == top-k of log w_i + Gumbel noise).  The Gumbel variate is
  derived from the portable hash of (doc_id, seed), NOT from rand(), so
  the draw is reproducible across engines and across runs — the same
  determinism-over-rand choice as ``relational.sample_hash``.

100 TB shape: the corpus is touched by exactly two explode+groupBy passes
(model fit, doc scoring); both partial-aggregate map-side.  The bucket
model tables are O(num_buckets) rows regardless of corpus size, and the
final selection is a TakeOrdered top-k, not a corpus-wide sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataquality_ml_spark.functions.scalar import portable_hash32, tokens
from dataquality_ml_spark.operators.relational import local_frame

_U32 = 4294967296.0  # 2^32


def _ngram_buckets(df: DataFrame, text_col: str, id_col: str, num_buckets: int) -> DataFrame:
    """Explode each doc into hashed (unigram + bigram) feature buckets.

    One row per n-gram occurrence (count-weighted features, as in the
    paper's bag-of-hashed-ngrams).  Pure array expressions — no UDF.

    The md5 runs once per TOKEN, not per n-gram: a bigram's bucket is
    derived arithmetically from its two unigram hashes (h1·31 + h2 mod B
    — h < 2^32, so the product fits bigint), the same formula the DuckDB
    oracle computes.  Halves the portable-hash cost, which dominates this
    operator at scale.  The hash array is bound in its own projection so
    the bigram zip never re-expands it (the winnowing lesson).
    """
    t = tokens(text_col)
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(t, lambda w: portable_hash32(w)).alias("_h"),
    )
    h = F.col("_h")
    uni = F.transform(h, lambda x: F.pmod(x, F.lit(num_buckets)))
    big = F.when(
        F.size(h) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(h) - 1),
            lambda i: F.pmod(
                F.element_at(h, i) * F.lit(31) + F.element_at(h, i + 1),
                F.lit(num_buckets),
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return hashed.select("doc_id", F.explode(F.concat(uni, big)).alias("bucket"))


def _bucket_model(feats: DataFrame) -> DataFrame:
    """num_buckets-row count table: (bucket, cnt)."""
    return feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))


def dsir_log_weights(
    target: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-candidate-doc log importance weight log p_target(d) − log p_raw(d)
    under smoothed bag-of-hashed-ngrams models.

    Returns (doc_id, n_feats, logw) with logw rounded to 4 dp — the sum of
    per-bucket log-ratios is associativity-sensitive at ~1e-12, and the
    round keeps the value engine-portable (house precedent:
    ``bigram_logprob``).
    """
    tgt_feats = _ngram_buckets(target, text_col, id_col, num_buckets)
    # raw features feed BOTH the bucket model and the per-doc scoring join;
    # without materialization Spark recomputes the md5 explode once per
    # consumer. localCheckpoint (not cache — executor-owned, GC-reclaimed,
    # the house trade from simhash_hamming_pairs) halves the feature pass.
    raw_feats = _ngram_buckets(candidates, text_col, id_col, num_buckets).localCheckpoint(
        eager=False
    )

    # each counts relation has two consumers (the bucket join + its
    # total): checkpoint so each side's featurize + groupBy runs once
    # (round 13, guide §2.4); both are <= num_buckets rows
    tgt_counts = _bucket_model(tgt_feats).withColumnRenamed(
        "cnt", "ct"
    ).localCheckpoint(eager=False)
    raw_counts = _bucket_model(raw_feats).withColumnRenamed(
        "cnt", "cr"
    ).localCheckpoint(eager=False)

    # Raw-side buckets are complete for candidate features by construction;
    # target-side counts coalesce to 0 where the target never saw the bucket.
    model = raw_counts.join(tgt_counts, "bucket", "left").na.fill({"ct": 0})

    # Scalar totals ride in as 1-row broadcast relations (house pattern).
    tgt_total = tgt_counts.agg(F.sum("ct").alias("t_tgt"))
    raw_total = raw_counts.agg(F.sum("cr").alias("t_raw"))
    b = float(num_buckets)
    lam = (
        model.crossJoin(F.broadcast(tgt_total))
        .crossJoin(F.broadcast(raw_total))
        .select(
            "bucket",
            (
                F.log((F.col("ct") + alpha) / (F.col("t_tgt") + alpha * b))
                - F.log((F.col("cr") + alpha) / (F.col("t_raw") + alpha * b))
            ).alias("lam"),
        )
    )

    return (
        raw_feats.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum("lam"), 4).alias("logw"),
        )
    )


def gumbel_key(id_col: str = "doc_id", seed: int = 42) -> F.Column:
    """Deterministic Gumbel(0,1) variate from the portable hash of
    (doc_id, seed): u = (h + 0.5) / 2^32 ∈ (0,1), g = −ln(−ln u).

    Hash-derived rather than rand(seed) so the DuckDB oracle reproduces
    the exact draw.
    """
    h = portable_hash32(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    u = (h + F.lit(0.5)) / F.lit(_U32)
    return -F.log(-F.log(u))


def dsir_resample(
    target: DataFrame,
    candidates: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 1024,
    alpha: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """Select ``k`` candidate docs ∝ importance weight without replacement
    via the Gumbel top-k trick: top-k of (logw + Gumbel(doc_id, seed)).

    The ranking key is rounded to 4 dp with doc_id as the tie-break, so
    the selected set is identical across engines.  Executes as
    TakeOrdered(k) — no corpus-wide sort materializes.
    """
    w = dsir_log_weights(target, candidates, text_col, id_col, num_buckets, alpha)
    scored = w.select(
        "doc_id",
        "n_feats",
        "logw",
        F.round(F.col("logw") + gumbel_key("doc_id", seed), 4).alias("score"),
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(k)


def domain_reweight(
    doc_scores: DataFrame,
    doc_source: DataFrame,
    nll_col: str = "nll",
    source_col: str = "source",
    id_col: str = "doc_id",
    eta: float = 1.0,
) -> DataFrame:
    """One exponentiated-gradient domain-reweighting step — the mixture
    update at the heart of DoReMi (Xie et al. 2023, "Doremi: Optimizing
    data mixtures speeds up language model pretraining"), deliberately
    simplified to a model-free single step: domains whose mean NLL exceeds
    the corpus mean (harder / underfit domains) get up-weighted
    multiplicatively, w'_s ∝ share_s · exp(η · excess_s), normalized.
    (The full method iterates this inside Group-DRO training with a proxy
    and a reference model — the distributed arithmetic per step is exactly
    this operator.)

    Shape: one join doc→source, one groupBy(source), two 1-row broadcast
    scalars (corpus mean, normalizer).  Output rounded 4 dp:
    (source, n_docs, mean_nll, excess, weight), weights summing to 1.
    """
    # two consumers (per-source cells + the corpus mean) — checkpoint so
    # the score/source join runs once (round 13, guide §2.4)
    per_doc = doc_scores.select(F.col(id_col), F.col(nll_col)).join(
        doc_source.select(F.col(id_col), F.col(source_col)), id_col
    ).localCheckpoint(eager=False)
    per_src = per_doc.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(nll_col).alias("_mean_nll"),
    )
    overall = per_doc.agg(
        F.avg(nll_col).alias("_corpus_nll"), F.count(F.lit(1)).alias("_n_total")
    )
    raw = per_src.crossJoin(F.broadcast(overall)).select(
        source_col,
        "n_docs",
        "_mean_nll",
        (F.col("_mean_nll") - F.col("_corpus_nll")).alias("_excess"),
        (
            (F.col("n_docs") / F.col("_n_total"))
            * F.exp(F.lit(eta) * (F.col("_mean_nll") - F.col("_corpus_nll")))
        ).alias("_raw_w"),
    )
    z = raw.agg(F.sum("_raw_w").alias("_z"))
    return (
        raw.crossJoin(F.broadcast(z))
        .select(
            source_col,
            "n_docs",
            F.round("_mean_nll", 4).alias("mean_nll"),
            F.round("_excess", 4).alias("excess"),
            F.round(F.col("_raw_w") / F.col("_z"), 4).alias("weight"),
        )
        .orderBy(source_col)
    )


def mixture_epochs(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Mixing manifest with EPOCH accounting (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models"): given target mixture
    weights and a total token budget, report per source the available
    tokens, the target token allocation (budget · normalized weight) and
    the implied number of EPOCHS (target/available — >1 means the source
    repeats, the data-constrained regime; ≤1 means subsampling).

    One corpus scan (token-count agg per source); weights ride as a
    broadcast relation.  Sources absent from ``weights`` get weight 0.
    Output: (source, n_tokens, weight, target_tokens, epochs)."""
    from dataquality_ml_spark.functions.scalar import tokens

    spark = df.sparkSession
    tot_w = sum(weights.values())
    wdf = F.broadcast(
        local_frame(
            spark,
            [(s, w / tot_w) for s, w in weights.items()],
            f"{source_col} string, weight double",
        )
    )
    avail = (
        df.select(F.col(source_col), F.size(tokens(text_col)).alias("_nt"))
        .groupBy(source_col)
        .agg(F.sum("_nt").alias("n_tokens"))
    )
    return (
        avail.join(wdf, source_col, "left")
        .select(
            source_col,
            "n_tokens",
            F.round(F.coalesce("weight", F.lit(0.0)), 6).alias("weight"),
            F.round(
                F.lit(float(token_budget)) * F.coalesce("weight", F.lit(0.0)), 4
            ).alias("target_tokens"),
            F.round(
                F.lit(float(token_budget))
                * F.coalesce("weight", F.lit(0.0))
                / F.col("n_tokens"),
                4,
            ).alias("epochs"),
        )
    )


def budget_select(
    df: DataFrame,
    token_budget: int,
    score_col: str,
    tokens_col: str,
    id_col: str = "doc_id",
    out: str = "tokens_before",
) -> DataFrame:
    """Maximal-prefix greedy selection under a GLOBAL token budget: rank
    rows by (``score_col`` desc, ``id_col`` asc) and keep the longest
    prefix whose cumulative ``tokens_col`` sum fits ``token_budget`` —
    "take the best documents until the training-token budget is spent",
    the final gate of a curation pipeline once per-doc quality scores
    exist.  Prefix semantics (a row is kept iff ALL better-scored rows
    plus itself fit) keep the operator deterministic and one-pass; this
    is the fractional-knapsack greedy without splitting the boundary doc.

    Distributed via ``relational.exclusive_prefix_sum`` over a struct
    sort key (-score, id) — range repartition + per-partition windows,
    NO partition-less window, so a 10^10-doc corpus never funnels
    through one task.  Adds ``out`` = tokens consumed by strictly
    better-ranked rows.
    """
    from dataquality_ml_spark.operators.relational import exclusive_prefix_sum

    keyed = df.withColumn(
        "_ord",
        F.struct(
            (-F.col(score_col)).alias("s"), F.col(id_col).alias("i")
        ),
    )
    cum = exclusive_prefix_sum(keyed, "_ord", tokens_col, out=out)
    return cum.filter(
        F.col(out) + F.col(tokens_col) <= F.lit(int(token_budget))
    ).drop("_ord")


def weighted_sample_k(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 42,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement — the Efraimidis & Spirakis
    2006 reservoir key ("Weighted random sampling with a reservoir"):
    keep the ``k`` rows with the largest u_i^(1/w_i), equivalently the
    largest ln(u_i)/w_i, which draws each row with probability
    proportional to its weight without replacement. The quality-weighted
    or length-weighted corpus subsample a training-data pipeline takes
    before an expensive stage.

    u is the deterministic engine-portable hash of (id, seed) — the same
    determinism-over-rand() choice as ``relational.sample_hash`` and
    ``gumbel_key``, so the draw replays bit-for-bit across engines, runs,
    and cluster sizes. The ranking key is rounded to 8 dp with id as the
    tie-break (the ``dsir_resample`` pattern), making the selected SET
    engine-identical. Executes as TakeOrdered(k) — no corpus-wide sort
    materializes at any scale. Rows with null/non-positive weight are
    excluded (zero-weight rows must never be drawn).

    ``group_by``: the STRATIFIED face — k weighted draws per segment
    (e.g. the k best-weighted docs per language) via a per-group window
    rank, which Spark executes as WindowGroupLimit: each partition keeps
    only its running top-k per group, so no group's full candidate set
    ever materializes. Output gains a ``sample_rank`` column (1..k per
    group).
    """
    h = portable_hash32(
        F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))
    )
    u = (h + F.lit(0.5)) / F.lit(_U32)
    es = F.round(F.log(u) / F.col(weight_col).cast("double"), 8) + F.lit(0.0)
    out = df.where(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("es_key", es)
    if group_by:
        from pyspark.sql import Window

        w = Window.partitionBy(*group_by).orderBy(
            F.desc("es_key"), F.asc(id_col)
        )
        return (
            out.withColumn("sample_rank", F.row_number().over(w))
            .where(F.col("sample_rank") <= k)
        )
    return out.orderBy(F.desc("es_key"), F.asc(id_col)).limit(k)


def neyman_allocation(
    df: DataFrame, value_col: str, stratum_col: str, budget: int
) -> DataFrame:
    """Neyman-optimal stratified sample allocation: per stratum h the
    size N_h, population σ_h, and the variance-minimizing sample share
    alloc_h = budget · N_h·σ_h / Σ_j N_j·σ_j — the principled answer to
    "how many rows of each source/segment should the eval sample take"
    (uniform and proportional allocation both over-sample low-variance
    strata).

    ONE aggregation: σ from exact per-stratum (n, Σv, Σv²) sums; the
    normalizing Σ N_j σ_j rides a broadcast-1-row join. Strata with zero
    variance get zero allocation (one row tells you everything), nulls
    are excluded like the profiler's valid population.
    """
    agg = (
        df.where(F.col(value_col).isNotNull() & ~F.isnan(value_col))
        .groupBy(stratum_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(value_col).alias("s1"),
            F.sum(F.col(value_col) * F.col(value_col)).alias("s2"),
        )
    )
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / F.col("n")
    sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
    # two consumers (normalizer + the allocation rows) — checkpoint so
    # the corpus scan + stratum groupBy run once (round 13, guide §2.4)
    scored = agg.select(stratum_col, "n", sigma.alias("sigma")).localCheckpoint(
        eager=False
    )
    tot = scored.agg(
        F.sum(F.col("n") * F.col("sigma")).alias("__tot")
    )
    return scored.crossJoin(F.broadcast(tot)).select(
        stratum_col,
        "n",
        "sigma",
        F.when(
            F.col("__tot") > 0,
            F.lit(float(budget)) * (F.col("n") * F.col("sigma")) / F.col("__tot"),
        ).otherwise(F.lit(0.0)).alias("alloc"),
    )


def importance_weight_ess(df: DataFrame, weight_col: str) -> DataFrame:
    """Effective sample size of an importance-weighted corpus — Kish's
    ESS = (Σw)²/Σw² and its fraction of n: the one-number diagnostic for
    any weighted sampler (DSIR, temperature, quality-score resampling).
    ESS/n near 1 means the weights barely matter; near 0 means a handful
    of documents dominate the expected sample and the downstream
    estimate's variance explodes. Returns one row:
    (n, sum_w, ess, ess_frac, max_w_share).

    One aggregation; Σw/Σw² are plain float sums over the valid
    (non-null, non-NaN, positive) weight population, max_w_share is the
    largest single weight's fraction of the total — the quick skew
    alarm. All outputs are fixed float expressions over one reduce.
    """
    w = F.col(weight_col).cast("double")
    base = df.where(
        F.col(weight_col).isNotNull() & ~F.isnan(w) & (w > 0)
    ).select(w.alias("w"))
    sw = F.sum("w")
    sw2 = F.sum(F.col("w") * F.col("w"))
    return base.agg(
        F.count(F.lit(1)).alias("n"),
        sw.alias("sum_w"),
        (sw * sw / sw2).alias("ess"),
        (sw * sw / sw2 / F.count(F.lit(1))).alias("ess_frac"),
        (F.max("w") / sw).alias("max_w_share"),
    )


def kfold_assign(
    df: DataFrame,
    k: int = 5,
    group_col: str | None = None,
    id_col: str = "doc_id",
    seed: str = "kfold",
) -> DataFrame:
    """Deterministic, leakage-safe k-fold assignment: fold =
    portable_hash(seed | group) mod k, where the hash unit is
    ``group_col`` when given (ALL rows of a group land in one fold —
    the grouped-CV discipline that keeps a user's / document-cluster's
    rows out of both train and validation at once) and ``id_col``
    otherwise. Adds a ``fold`` column; engine-portable (md5-based), so
    the split is reproducible across engines, reruns, and cluster
    sizes — no randomSplit partition-order hazard.
    """
    if k < 2:
        raise ValueError(f"kfold_assign: k must be >= 2, got {k}")
    from dataquality_ml_spark.functions.scalar import portable_hash32

    unit = F.col(group_col if group_col else id_col).cast("string")
    fold = F.pmod(
        portable_hash32(F.concat_ws("|", F.lit(seed), unit)), F.lit(int(k))
    ).cast("int")
    return df.withColumn("fold", fold)


def rolling_origin_assign(
    df: DataFrame,
    ts_col: str,
    n_folds: int = 4,
) -> DataFrame:
    """Rolling-origin (expanding-window) time-series cross-validation
    assignment (Tashman 2000) — the temporal complement to
    :func:`kfold_assign`: random/hash folds LEAK THE FUTURE for any
    model consuming time-ordered signal, because a training row may
    postdate its validation rows. Here fold i trains on everything up
    to cutoff cᵢ and validates on (cᵢ, cᵢ₊₁], with cutoffs at the
    exact i/(n_folds+1) time quantiles, so every fold's train strictly
    precedes its test and successive folds grow the training window —
    the backtest protocol. Returns the input rows exploded to
    (fold, role ∈ {train, test}, *row); a row appears once per fold
    where it plays a part (≤ n_folds copies — the documented expansion
    factor; assignments are row-count metadata, not a data copy).

    Determinism + scale: cutoffs are ONE exact-percentile aggregation
    over the epoch-SECOND timestamps — seconds (≤ ~2³¹) interpolate
    exactly in doubles, where epoch-micros (~10¹⁸ > 2⁵³) would round
    and could flip boundary rows between engines; sub-second ties land
    on the same side by construction. The explode joins a
    ``n_folds``-row literal relation broadcast against the scan — no
    window, no shuffle beyond the quantile agg.
    """
    if n_folds < 1:
        raise ValueError(
            f"rolling_origin_assign: n_folds must be >= 1, got {n_folds}"
        )
    valid = df.where(F.col(ts_col).isNotNull())
    secs = F.unix_timestamp(F.col(ts_col))
    qs = [i / (n_folds + 1.0) for i in range(1, n_folds + 2)]
    q_sql = ", ".join(repr(q) for q in qs)
    row = valid.agg(
        F.expr(f"percentile(unix_timestamp({ts_col}), array({q_sql}))").alias(
            "c"
        )
    ).first()
    cuts = row["c"]
    if cuts is None or cuts[0] is None:
        raise ValueError(
            f"rolling_origin_assign: no non-null {ts_col!r} rows to split"
        )
    folds = local_frame(
        df.sparkSession,
        [(i + 1, float(cuts[i]), float(cuts[i + 1])) for i in range(n_folds)],
        "fold int, c_lo double, c_hi double",
    )
    j = valid.crossJoin(F.broadcast(folds))
    role = F.when(secs <= F.col("c_lo"), F.lit("train")).when(
        secs <= F.col("c_hi"), F.lit("test")
    )
    return (
        j.withColumn("role", role)
        .where(F.col("role").isNotNull())
        .drop("c_lo", "c_hi")
    )
