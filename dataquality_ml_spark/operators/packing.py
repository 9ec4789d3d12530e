"""Token-budget sequence packing — assign documents to fixed-budget
training sequences by running token count (the "sequence packing" step
that turns a shuffled corpus into budget-sized model inputs).

The semantics are a global prefix sum in a deterministic document order.
A naive ``sum() over (order by id)`` with no partition key collapses the
whole corpus into ONE window partition — the classic 100 TB killer. This
implements the distributed form:

1. range-repartition by the order key and sort within partitions — ranges
   are totally ordered across partitions, so partition id IS rank order;
2. per-partition token subtotals (one tiny agg: |partitions| rows);
3. prefix-sum the subtotals driver-side and broadcast the per-partition
   starting offsets back;
4. an intra-partition running sum (window partitioned by partition id —
   parallel, no skew) plus the broadcast offset gives every doc its exact
   global start position.

The result is invariant to where the range boundaries land, so Spark's
sampled range partitioner doesn't affect output. Oracle-checkable against
the naive single-window SQL form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataquality_ml_spark.operators.relational import local_frame


def pack_sequences(
    df: DataFrame,
    budget: int,
    n_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign each doc a (seq_id, seq_offset) under a token ``budget``:
    seq_id = global_start // budget, seq_offset = global_start % budget,
    where global_start = sum of n_col over all docs ordered before it.
    Documents may straddle a budget boundary (offset + n > budget); a
    trainer that forbids straddling uses ``pack_doc_boundary``.

    The prefix sum is ``relational.exclusive_prefix_sum`` — the
    two-level decomposition documented in the module docstring, shared
    with ``value_deciles``' global rank."""
    from dataquality_ml_spark.operators.relational import exclusive_prefix_sum

    return exclusive_prefix_sum(df, id_col, n_col, out="_start").select(
        id_col,
        n_col,
        (F.col("_start") / budget).cast("bigint").alias("seq_id"),
        (F.col("_start") % budget).alias("seq_offset"),
    )


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    margin: int = 4,
) -> DataFrame:
    """Token-budget data mixture: fill ``token_budget`` tokens with docs
    drawn per source proportional to ``weights`` (the domain-mixing step of
    a training-data pipeline — "50% web, 30% books, 20% code" — expressed
    in tokens, the unit that actually matters, not doc counts).

    Per source s: allocation_s = budget · w_s / Σw; keep the docs with the
    smallest deterministic id-hash whose running token sum stays within
    allocation_s (truncating — the doc that would cross the line is
    dropped). Deterministic and engine-portable, like ``quota_sample``.

    Scale shape (same two-phase trick as ``quota_sample``): a naive
    per-source cumulative window sorts the ENTIRE corpus inside few fat
    source partitions. Instead (1) one agg computes per-source token
    totals, (2) a broadcast hash cutoff admits ~margin× the allocation's
    worth of candidate tokens, (3) the corpus filters on the cutoff — a
    narrow scan, non-candidates never shuffle, (4) the exact cumulative
    window runs over candidates only (~margin·allocation tokens per
    source). Unmatched sources (no weight entry) are excluded.

    Returns (id, source, n_tokens, cum_tokens) — cum_tokens is the running
    sum within the source's fill order.
    """
    from dataquality_ml_spark.functions.scalar import tokens
    from dataquality_ml_spark.operators.relational import _MOD, _hash_bucket

    spark = df.sparkSession
    total_w = float(sum(weights.values()))
    alloc_df = local_frame(
        spark,
        [(s, token_budget * w / total_w) for s, w in weights.items()],
        f"{source_col} string, _alloc double",
    )
    toks = df.select(
        F.col(id_col),
        F.col(source_col),
        F.size(tokens(text_col)).alias("n_tokens"),
        _hash_bucket(df, id_col).alias("_h"),
    )
    totals = toks.groupBy(source_col).agg(F.sum("n_tokens").alias("_tot"))
    cut = totals.join(F.broadcast(alloc_df), source_col).select(
        source_col,
        "_alloc",
        F.when(F.col("_tot") <= margin * F.col("_alloc"), F.lit(_MOD))
        .otherwise(
            (F.lit(float(_MOD)) * margin * F.col("_alloc") / F.col("_tot"))
            .cast("bigint")
        )
        .alias("_cut"),
    )
    cand = toks.join(F.broadcast(cut), source_col).where(F.col("_h") < F.col("_cut"))
    w = Window.partitionBy(source_col).orderBy("_h", id_col)
    return (
        cand.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= F.col("_alloc"))
        .select(id_col, source_col, "n_tokens", "cum_tokens")
    )


def pack_pieces(
    packed: DataFrame,
    budget: int,
    n_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Expand a ``pack_sequences`` assignment into the per-sequence
    manifest a trainer actually consumes: one row per (sequence, document
    piece) with the piece's offset and length INSIDE that sequence —
    including documents that straddle a budget boundary, which appear
    once per spanned sequence with the correct split lengths. This is the
    attention-boundary / loss-mask map for packed training examples.

    Pure narrow expressions: each doc explodes to its spanned seq range
    (``sequence(first_seq, last_seq)`` — length = 1 + straddle count, no
    corpus-wide window); interval clipping is arithmetic. Zero-token docs
    occupy no tokens and drop out.
    """
    start = F.col("seq_id") * budget + F.col("seq_offset")
    end = start + F.col(n_col) - 1  # inclusive
    spans = F.sequence(
        F.col("seq_id"), F.floor(end / budget).cast("bigint")
    )
    ex = (
        packed.where(F.col(n_col) > 0)
        .withColumn("_start", start)
        .withColumn("_end", end)
        .select(id_col, "_start", "_end", F.explode(spans).alias("piece_seq"))
    )
    seq_lo = F.col("piece_seq") * budget
    p_start = F.greatest(F.col("_start"), seq_lo)
    p_end = F.least(F.col("_end"), seq_lo + budget - 1)
    return ex.select(
        F.col("piece_seq").alias("seq_id"),
        id_col,
        (p_start - seq_lo).alias("piece_offset"),
        (p_end - p_start + 1).alias("piece_len"),
    )


def pack_doc_boundary(
    df: DataFrame,
    budget: int,
    n_col: str = "n_tokens",
    id_col: str = "doc_id",
    block: int = 512,
) -> DataFrame:
    """Greedy next-fit sequence packing at DOCUMENT boundaries: a doc
    that would straddle the ``budget`` opens a new sequence instead (the
    no-straddle trainer contract), so sequences carry padding — which is
    exactly what ``packing_fill_report`` measures.  Docs with
    n >= budget take ceil(n/budget) sequences of their own.

    Greedy next-fit is inherently sequential (the assignment depends on
    the running fill), so it cannot be a prefix sum.  Scale shape: docs
    get a deterministic global rank (``pack_sequences`` with unit
    weights — the distributed two-level prefix sum), ranks split into
    fixed ``block``-doc blocks, each block packs independently with an
    in-memory greedy loop (``applyInPandas``, ≤ ``block`` rows per
    task — bounded, embarrassingly parallel), and block-local sequence
    ids shift by an exclusive prefix sum over the per-block sequence
    counts (a |docs|/block-sized relation through the same two-level
    machinery).  Deviation from a single global greedy scan, documented:
    every block starts a fresh sequence, wasting at most one partial
    sequence per ``block`` docs — the run is deterministic and
    oracle-replayable, unlike range-partition-boundary packing.

    Output: (id_col, n_col, seq_id)."""
    import pandas as pd

    ranked = (
        pack_sequences(
            df.select(id_col).withColumn("_one", F.lit(1)),
            budget=block,
            n_col="_one",
            id_col=id_col,
        )
        .select(
            id_col,
            F.col("seq_id").alias("_blk"),
            F.col("seq_offset").alias("_idx"),
        )
        .join(df.select(id_col, n_col), id_col)
    )

    def _pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("_idx")
        seq, fill, assigned = 0, 0, []
        for n in pdf[n_col]:
            n = int(n)
            if n >= budget:
                asn = seq + 1 if fill > 0 else seq
                assigned.append(asn)
                seq, fill = asn + (n + budget - 1) // budget, 0
            elif fill + n > budget:
                seq += 1
                assigned.append(seq)
                fill = n
            else:
                assigned.append(seq)
                fill += n
        nseqs = seq + (1 if fill > 0 else 0)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].values,
                n_col: pdf[n_col].values,
                "_blk": pdf["_blk"].values,
                "_local_seq": assigned,
                "_blk_nseqs": nseqs,
            }
        )

    packed = ranked.groupBy("_blk").applyInPandas(
        _pack,
        schema=f"{id_col} bigint, {n_col} bigint, _blk bigint, "
        "_local_seq bigint, _blk_nseqs bigint",
    ).localCheckpoint(eager=False)

    # exclusive prefix over per-block sequence counts — the block stats
    # relation is |docs|/block rows, pushed through the same two-level
    # decomposition as the rank stage
    from dataquality_ml_spark.operators.relational import exclusive_prefix_sum

    blk_off = exclusive_prefix_sum(
        packed.select("_blk", "_blk_nseqs").distinct(),
        "_blk",
        "_blk_nseqs",
        out="_blk_off",
    ).select("_blk", "_blk_off")
    # no broadcast hint: blk_off is |docs|/block rows — comfortably
    # broadcastable at test scale (AQE will pick that), but at 100 TB it
    # is ~100M rows and the _blk-keyed shuffle join is the right plan
    return (
        packed.join(blk_off, "_blk")
        .select(
            id_col,
            n_col,
            (F.col("_blk_off") + F.col("_local_seq")).alias("seq_id"),
        )
    )


def packing_fill_report(
    assigned: DataFrame, budget: int, n_col: str = "n_tokens"
) -> DataFrame:
    """Fill-rate report over a packing assignment: per sequence the doc
    count, used tokens, and fill rate (used/budget — the padding a
    no-straddle trainer eats).  One map-side-combined groupBy.
    Output: (seq_id, n_docs, used_tokens, fill_rate)."""
    return assigned.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_col).cast("bigint").alias("used_tokens"),
        F.round(F.sum(n_col) / F.lit(float(budget)), 4).alias("fill_rate"),
    )
