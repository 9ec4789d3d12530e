"""Structured Streaming scoring mode (SURVEY.md §2.9, §7 step 10).

The reference is batch-only (scheduled daily, README.md:5); this optional
mode scores arriving events continuously with the same operators:

- event-time tumbling/sliding windows with a watermark for late data,
- anomaly flagging against a FROZEN threshold artifact (the batch-derived
  scalar — state the reference keeps in a txt file, here a plain float
  loaded per batch or closed over),
- ``foreachBatch`` to reuse any batch operator (M13 flagging, report sink)
  unchanged on each micro-batch.

Scale notes: the windowed aggregation is stateful but bounded by the
watermark horizon; keys shard across executors; no state grows with total
stream length.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataquality_ml_spark.operators.drift import EPS
from dataquality_ml_spark.operators.relational import local_frame
from dataquality_ml_spark.operators.sketch import cms_build, hll_sketch_by_group, qsketch_build


def windowed_stats(
    stream_df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    key_col: str | None = "event_type",
    window_duration: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked sliding/tumbling window aggregation over a stream —
    count/mean/max per (key, window). Late rows beyond the watermark drop;
    state is bounded."""
    keys = [F.window(ts_col, window_duration, slide or window_duration)]
    if key_col:
        keys.append(F.col(key_col))
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(value_col).alias("mean_value"),
            F.max(value_col).alias("max_value"),
        )
    )


def flag_stream(
    stream_df: DataFrame, score_col: str, threshold: float, out: str = "is_anomaly"
) -> DataFrame:
    """M13 on a stream: stateless row-wise comparison against the frozen
    batch-derived threshold — identical expression as the batch operator."""
    return stream_df.withColumn(out, F.col(score_col) > F.lit(threshold))


def score_with_batch_operator(
    stream_df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    trigger_once: bool = True,
):
    """foreachBatch bridge: apply any batch operator/sink to each
    micro-batch (how the engine reuses its scoring/report operators in
    streaming mode). Every foreachBatch monitor in this module starts its
    query here. ``trigger_once`` processes what is available now and
    stops. Returns the started StreamingQuery."""
    writer = stream_df.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _once_per_batch(fold: Callable[[DataFrame, int], None]):
    """Wrap a foreachBatch fold so it skips a batch_id it already folded.
    ``foreachBatch`` delivers at least once, and a fold that sums counts
    or appends reports would count a replayed batch twice."""
    applied: set = set()

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in applied:
            return
        fold(batch_df, batch_id)
        applied.add(batch_id)

    return _batch


def dedup_stream(
    stream_df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop repeated key tuples arriving within the
    watermark horizon.  The streaming face of the batch dedup operators.

    Uses ``dropDuplicatesWithinWatermark`` (Spark 3.5+), NOT
    ``dropDuplicates``: with plain dropDuplicates the watermark only
    expires dedup state when the event-time column is itself one of the
    dedup keys — deduping on a business key alone accumulates state
    forever, which is exactly the configuration a 100 TB stream runs.
    WithinWatermark stamps each key's state with its arrival event time
    and evicts it once the watermark passes, so state is bounded by the
    horizon regardless of the key set."""
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def session_stats(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization: dynamic-gap session windows per key
    (``F.session_window`` — a session closes when no event arrives for
    ``gap``). The streaming twin of the batch gaps-and-islands
    ``sessionize_events`` operator: same session semantics, but windows
    merge incrementally as micro-batches arrive and emit on watermark
    expiry.

    State is one open session per active key, bounded by the watermark
    horizon — this is the aggregation Structured Streaming maintains in
    the state store, sharded by key across executors.
    """
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("total_value"),
        )
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def bloom_dedup_stream(
    stream_df: DataFrame,
    initial_bloom,
    checkpoint: str,
    out_fn: Callable[[DataFrame, int], None],
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger_once: bool = True,
):
    """Streaming content dedup against a persistable corpus Bloom filter —
    the daily-append dedup story (operators.dedup.incremental_dedup_bloom)
    run continuously: each micro-batch is filtered against the
    corpus-so-far bloom, the survivors go to ``out_fn`` (the sink), and
    the survivors' fingerprints are folded INTO the bloom so later
    micro-batches dedup against everything already accepted.

    State = one fixed-size bitmap (1 MiB default), mutated driver-side
    between micro-batches and broadcast per batch — not per-key state in
    the state store, because content dedup keys on an unbounded fingerprint
    domain where watermark expiry would silently re-admit old duplicates.
    The bitmap is exactly what a production pipeline persists alongside the
    checkpoint (re-buildable from the corpus with build_fingerprint_bloom).

    Returns (query, get_bloom) — ``get_bloom()`` reads the current filter
    for persistence after the query stops.
    """
    from dataquality_ml_spark.functions.scalar import bow_fingerprint
    from dataquality_ml_spark.operators.dedup import bloom_or, incremental_dedup_bloom

    state = {"bloom": initial_bloom}

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        bloom = state["bloom"]
        fresh = incremental_dedup_bloom(batch_df, bloom, text_col, id_col)
        kept = batch_df.join(fresh, id_col, "semi")
        out_fn(kept, batch_id)
        state["bloom"] = bloom_or(bloom, kept, bow_fingerprint(text_col))

    query = score_with_batch_operator(stream_df, _batch, checkpoint, trigger_once)
    return query, lambda: state["bloom"]


def span_dedup_stream(
    stream_df: DataFrame,
    initial_bloom,
    checkpoint: str,
    out_fn: Callable[[DataFrame, int], None],
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk: int = 3,
    trigger_once: bool = True,
):
    """Streaming face of sub-document span dedup (``dedup.dedup_spans``):
    keep-first line/paragraph dedup where "first" spans the whole stream,
    not one micro-batch. Per batch: split docs into tiling spans, apply
    the in-batch keep-first rule, additionally drop any span whose text
    was already ACCEPTED by an earlier micro-batch (bloom membership —
    broadcast bitmap, vectorized probe), reconstruct the surviving
    documents for the sink, and fold the newly-accepted spans' positions
    into the bloom so later batches dedup against everything emitted so
    far.

    State is the same fixed-size bitmap as ``bloom_dedup_stream`` — span
    identity is an unbounded key domain, so per-key state-store entries
    with watermark expiry would silently re-admit old boilerplate; the
    bloom's false-positive direction only ever over-removes (a genuinely
    new span mistaken for seen), never lets a duplicate through. Batch
    ``min_count`` semantics don't carry over: the stream implements pure
    keep-first (the only policy with a one-directional state).

    Returns (query, get_bloom); persist ``get_bloom()`` with the
    checkpoint to resume the corpus-so-far state.
    """
    from dataquality_ml_spark.operators.dedup import (
        bloom_member_udf,
        bloom_or,
        dedup_spans,
        reconstruct_spans,
    )
    from dataquality_ml_spark.operators.text import chunk_documents

    state = {"bloom": initial_bloom}

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        bloom = state["bloom"]
        in_bloom = bloom_member_udf(batch_df.sparkSession, bloom)
        spans = chunk_documents(batch_df, chunk=chunk, overlap=0)
        marked = dedup_spans(spans).withColumn(
            "kept",
            F.col("kept")
            & ~in_bloom(bloom.position_cols(F.col("chunk_text"))),
        )
        # reconstruction + the bloom fold both read the decision frame;
        # materialize it once (RDD-owned blocks, reclaimed on GC)
        marked = marked.localCheckpoint(eager=False)
        out_fn(reconstruct_spans(marked), batch_id)
        state["bloom"] = bloom_or(bloom, marked.where("kept"), F.col("chunk_text"))

    query = score_with_batch_operator(stream_df, _batch, checkpoint, trigger_once)
    return query, lambda: state["bloom"]


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 hour",
    within: str = "30 minutes",
    prefix: tuple[str, str] = ("l_", "r_"),
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time interval bound: pair rows
    sharing ``key`` where the right event lands in
    [left_ts, left_ts + within] — the attribution join (view→click,
    request→response) between two live streams.

    ``how='left_outer'`` additionally emits unmatched left rows (views
    that never converted) with null right columns — but only once the
    watermark proves no match can still arrive, which is why outer
    stream-stream joins REQUIRE the time bound: without it "unmatched"
    is undecidable and Spark rejects the plan.

    Both sides carry a watermark AND the join condition carries the time
    interval — that combination is what lets Structured Streaming bound
    BOTH state stores: a buffered left row is droppable once the right
    watermark passes left_ts + within (no future match can arrive), and
    symmetrically for the right.  A stream-stream join with no time bound
    must buffer every row ever seen — the unbounded configuration this
    wrapper makes unexpressible.

    All columns are prefixed (timestamps included) so the two sides never
    collide; the batch twin for differential testing is
    ``operators.interval.interval_join`` on the same predicate.
    """
    lsel = left.select(
        [F.col(c).alias(prefix[0] + c) for c in left.columns]
    ).withWatermark(prefix[0] + left_ts, watermark)
    rsel = right.select(
        [F.col(c).alias(prefix[1] + c) for c in right.columns]
    ).withWatermark(prefix[1] + right_ts, watermark)
    lt, rt = F.col(prefix[0] + left_ts), F.col(prefix[1] + right_ts)
    if how not in ("inner", "left_outer"):
        raise ValueError("stream_stream_interval_join supports inner|left_outer")
    cond = (
        (F.col(prefix[0] + key) == F.col(prefix[1] + key))
        & (rt >= lt)
        & (rt <= lt + F.expr(f"INTERVAL {within}"))
    )
    return lsel.join(rsel, cond, how)


def oov_monitor_stream(
    stream_df: DataFrame,
    tokenizer,
    checkpoint: str,
    out_fn: Callable[[dict], None],
    alarm_rate: float = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger_once: bool = True,
):
    """Tokenizer-health monitor on a document stream: each micro-batch is
    tokenized under a FROZEN tokenizer artifact (BPE or unigram — anything
    with the ``tokenize`` contract emitting ``token_ids``/``n_ids`` with
    UNK = -1) and reduced to one summary dict ``(batch_id, n_docs, n_ids,
    n_unk, oov_rate, alarm)`` handed to ``out_fn``.  A rising OOV rate is
    the earliest signal that the corpus drifted away from the tokenizer's
    training domain (new language, new markup, encoding regressions) —
    the streaming twin of the batch ``bpe_oov_by_source`` report.

    Only the aggregate dict crosses to the driver; tokenization inside the
    micro-batch is the batch operator unchanged (broadcast vocab join, no
    UDF)."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        ids = tokenizer.tokenize(batch_df, text_col, id_col)
        row = ids.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("n_ids"), F.lit(0)).alias("n_ids"),
            F.coalesce(
                F.sum(F.size(F.filter("token_ids", lambda t: t == -1))),
                F.lit(0),
            ).alias("n_unk"),
        ).first()
        n_ids = int(row["n_ids"])
        n_unk = int(row["n_unk"])
        rate = (n_unk / n_ids) if n_ids else 0.0
        out_fn(
            {
                "batch_id": batch_id,
                "n_docs": int(row["n_docs"]),
                "n_ids": n_ids,
                "n_unk": n_unk,
                "oov_rate": round(rate, 6),
                "alarm": rate > alarm_rate,
            }
        )

    return score_with_batch_operator(stream_df, _batch, checkpoint, trigger_once)


def url_dedup_stream(
    stream_df: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming URL-level dedup on the CANONICAL form: the crawl-ingest
    face of ``web.url_dedup`` — tracking-param / scheme-case /
    trailing-slash variants of a page arriving across micro-batches come
    out exactly once.  Canonicalization is the same codegen'd regexp
    algebra as the batch operator (stateless projection, no UDF); state
    is one canonical-URL key per horizon, evicted by
    ``dropDuplicatesWithinWatermark`` like ``dedup_stream``."""
    from dataquality_ml_spark.operators.web import canonical_url

    return dedup_stream(
        stream_df.withColumn("canon_url", canonical_url(F.col(url_col))),
        ["canon_url"],
        ts_col,
        watermark,
    )


def cms_monitor_stream(
    stream_df: DataFrame,
    checkpoint: str,
    width: int = 1024,
    depth: int = 4,
    text_col: str = "text",
    trigger_once: bool = True,
):
    """Streaming corpus-frequency monitor on a count-min sketch: each
    micro-batch's tokens build a partial CMS (``sketch.cms_build`` — one
    bounded-key-space aggregate per batch) and its ≤ depth×width cells
    fold into the running counter matrix by elementwise sum — the
    associative merge that makes CMS stream-maintainable with ZERO
    per-key state-store entries for an unbounded token domain.

    Like ``bloom_dedup_stream``, state is one fixed-size array mutated
    driver-side between micro-batches: only sketch cells cross to the
    driver, never token rows.  The array is what a production pipeline
    persists next to the checkpoint; ``estimate`` answers point queries
    from it (min over depth rows, the standard CMS read).

    Delivery semantics: ``foreachBatch`` is at-least-once, and
    elementwise sum — unlike the HLL twin's register-wise max — is NOT
    idempotent, so a replayed batch would double-count.  The fold is
    therefore keyed on ``batch_id`` (``_once_per_batch``), which makes a
    within-run replay exact.  Across a RESTART the persisted array
    must be saved/restored together with the checkpoint (same contract as
    the bloom bitmap); restoring a stale array while the checkpoint has
    advanced undercounts, restoring a newer one double-counts.

    Returns (query, get_sketch, estimate) — ``get_sketch()`` yields the
    (depth, width) numpy counter matrix; ``estimate(tokens)`` returns
    {token: est_count} computed driver-side from the matrix with the
    same md5 hash family the distributed build uses.
    """
    import hashlib

    from dataquality_ml_spark.functions.scalar import tokens as tok_fn

    state = {"cms": np.zeros((depth, width), dtype=np.int64)}

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        toks = batch_df.select(F.explode(tok_fn(F.col(text_col))).alias("token"))
        part = np.zeros((depth, width), dtype=np.int64)
        for r in cms_build(toks, "token", width=width, depth=depth).collect():
            part[r["cms_depth"], r["cms_bucket"]] = r["cms_cnt"]
        state["cms"] = state["cms"] + part

    def estimate(items) -> dict:
        cms = state["cms"]
        out = {}
        for it in items:
            est = None
            for d in range(depth):
                h = int(hashlib.md5(f"{d}|{it}".encode()).hexdigest()[:8], 16) % width
                c = int(cms[d, h])
                est = c if est is None else min(est, c)
            out[it] = est
        return out

    query = score_with_batch_operator(
        stream_df, _once_per_batch(_fold), checkpoint, trigger_once
    )
    return query, lambda: state["cms"], estimate


def hll_monitor_stream(
    stream_df: DataFrame,
    checkpoint: str,
    group_col: str = "source",
    text_col: str = "text",
    lgk: int = 12,
    trigger_once: bool = True,
):
    """Streaming distinct-cardinality monitor on DataSketches HLL: each
    micro-batch's tokens build per-group binary sketches JVM-side
    (``sketch.hll_sketch_by_group``) and fold into the running per-group
    sketches with ``hll_union_agg`` — register-wise max, so the merged
    sketch is IDENTICAL to a single-pass build over the whole stream
    (order-independent, idempotent on replays of the same values), with
    zero per-key state for an unbounded token domain.

    The cross-batch union runs as a tiny Spark job over (state ∪ batch)
    sketch rows; what crosses to the driver is one ≤2^lgk-byte sketch
    per group, never token rows.  The sketch rows are what a production
    pipeline persists next to the checkpoint.

    Returns (query, get_sketches, estimates) — ``get_sketches()`` yields
    the [(group, bytes)] state; ``estimates()`` runs
    ``hll_sketch_estimate`` over it and returns {group: est}.
    """
    from dataquality_ml_spark.functions.scalar import tokens as tok_fn

    schema = f"{group_col} string, hll_sketch binary"
    state: dict = {"rows": None, "spark": None}

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state["spark"] = spark
        toks = batch_df.select(
            F.col(group_col).cast("string").alias(group_col),
            F.explode(tok_fn(F.col(text_col))).alias("token"),
        )
        part = hll_sketch_by_group(toks, "token", [group_col], lgk=lgk)
        if state["rows"]:
            prev = local_frame(spark, state["rows"], schema)
            part = part.unionByName(prev)
        merged = part.groupBy(group_col).agg(
            F.hll_union_agg(F.col("hll_sketch")).alias("hll_sketch")
        )
        state["rows"] = [(r[group_col], bytes(r["hll_sketch"])) for r in merged.collect()]

    def estimates() -> dict:
        if not state["rows"]:
            return {}
        df = local_frame(state["spark"], state["rows"], schema)
        out = df.select(
            group_col,
            F.hll_sketch_estimate(F.col("hll_sketch")).alias("est"),
        ).collect()
        return {r[group_col]: r["est"] for r in out}

    query = score_with_batch_operator(stream_df, _batch, checkpoint, trigger_once)
    return query, lambda: state["rows"], estimates


def _batch_hist(
    batch_df: DataFrame, value_col: str, lo: float, hi: float, bins: int
) -> np.ndarray:
    """One micro-batch's length-``bins`` count histogram under the frozen
    (lo, hi, bins) quantizer (``sketch.qsketch_build``): only ≤ bins count
    cells cross to the driver."""
    hist = np.zeros(bins, dtype=np.int64)
    for r in qsketch_build(batch_df, value_col, lo, hi, bins=bins).collect():
        hist[r["qs_bin"]] = r["qs_cnt"]
    return hist


def qsketch_monitor_stream(
    stream_df: DataFrame,
    checkpoint: str,
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 1.0,
    bins: int = 1024,
    trigger_once: bool = True,
):
    """Streaming quantile monitor on the fixed-bin sketch
    (``sketch.qsketch_build``): each micro-batch's values histogram under
    the frozen (lo, hi, bins) quantizer and the ≤ ``bins`` cells fold
    into the running counter array by elementwise sum — the exact-merge
    property that makes the sketch stream-maintainable with zero per-key
    state (A7/A8 percentile thresholds read live from the array, no
    history rescans).

    Like ``cms_monitor_stream``: state is one fixed-size array mutated
    driver-side; only bin cells cross to the driver, never value rows.
    The fold is keyed on ``batch_id`` (at-least-once replays skipped);
    across restarts the persisted array must be saved/restored together
    with the checkpoint.

    Returns (query, get_hist, quantiles) — ``get_hist()`` yields the
    length-``bins`` numpy counter array; ``quantiles(qs)`` returns
    {q: est} by the same uniform-within-bin read as
    ``sketch.qsketch_quantiles`` (driver-side over the bounded array).
    """
    state = {"hist": np.zeros(bins, dtype=np.int64)}
    width = (float(hi) - float(lo)) / bins

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        state["hist"] = state["hist"] + _batch_hist(batch_df, value_col, lo, hi, bins)

    def quantiles(qs) -> dict:
        hist = state["hist"]
        n = int(hist.sum())
        out = {}
        cum = np.cumsum(hist)
        for q in qs:
            # same (0, 1] domain as sketch.qsketch_quantiles: q <= 0 puts
            # rank at 0 where searchsorted lands on a possibly-EMPTY first
            # bin (ZeroDivisionError), and q > 1 runs past the histogram
            if not 0.0 < q <= 1.0:
                raise ValueError(
                    f"quantile q={q} outside the sketch domain (0, 1]"
                )
            rank = q * n
            if n == 0:
                out[q] = None
                continue
            b = int(np.searchsorted(cum, rank, side="left"))
            before = int(cum[b - 1]) if b > 0 else 0
            out[q] = float(lo) + width * (b + (rank - before) / int(hist[b]))
        return out

    query = score_with_batch_operator(
        stream_df, _once_per_batch(_fold), checkpoint, trigger_once
    )
    return query, lambda: state["hist"], quantiles


def _binned_panel(ref: np.ndarray, cur: np.ndarray) -> dict:
    """The two-sample drift panel of a batch histogram ``cur`` against a
    reference histogram ``ref`` on the same frozen quantizer, computed
    driver-side over the two bounded arrays: ``n`` (the batch count),
    ``psi`` (EPS-clamped proportions, ``drift.psi_bins``), ``ks_d`` (max
    CDF gap, ``drift.ks_statistic(bins=...)``), ``cvm_t``
    (``drift.cvm_statistic(bins=...)``) and ``ad_a2`` (the tie-aware
    Anderson-Darling A² of ``drift.drift_panel``, each occupied bin one
    distinct value). The statistics are NULL when either side is empty."""
    n_a, n_b = int(ref.sum()), int(cur.sum())
    if n_a == 0 or n_b == 0:
        return {"n": n_b, "psi": None, "ks_d": None, "cvm_t": None, "ad_a2": None}
    pr = np.maximum(ref / n_a, EPS)
    pc = np.maximum(cur / n_b, EPS)
    psi = float(np.sum((pc - pr) * np.log(pc / pr)))
    ca, cb = np.cumsum(ref), np.cumsum(cur)
    ks = float(np.max(np.abs(ca / n_a - cb / n_b)))
    # CvM over pooled bucket counts — drift.cvm_statistic's
    # Σ cnt·(ca·tot_b − cb·tot_a)² / (N²·tot_a·tot_b), in object dtype:
    # exact integers, mirroring the DECIMAL path
    cnt = ref + cur
    n = n_a + n_b
    num = np.sum(
        cnt.astype(object)
        * (ca.astype(object) * n_b - cb.astype(object) * n_a) ** 2
    )
    cvm = float(num) / (float(n) * n * n_a * n_b)
    occ = cnt > 0
    l = cnt[occ].astype(np.float64)
    nd = float(n)
    bb = (ca[occ] + cb[occ]).astype(np.float64) - l / 2
    ad_denom = bb * (nd - bb) - nd * l / 4
    ok = ad_denom > 0
    ad = 0.0
    for c_side, h_side, tot in (
        (ca[occ], ref[occ], n_a),
        (cb[occ], cur[occ], n_b),
    ):
        m = c_side.astype(np.float64) - h_side.astype(np.float64) / 2
        g = nd * m - float(tot) * bb
        ad += float(np.sum((l[ok] / nd) * g[ok] * g[ok] / ad_denom[ok] / tot))
    ad_a2 = (nd - 1) / nd * ad
    return {"n": n_b, "psi": psi, "ks_d": ks, "cvm_t": cvm, "ad_a2": ad_a2}


def drift_monitor_stream(
    stream_df: DataFrame,
    checkpoint: str,
    ref_hist,
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 1.0,
    trigger_once: bool = True,
):
    """Streaming drift monitor: every micro-batch's values histogram under
    the FROZEN (lo, hi, bins) quantizer of a reference histogram
    (``sketch.qsketch_build`` over the training data — the artifact an
    ``ANNIndex``-style deployment persists), and the driver computes the
    batch-vs-reference drift panel over the two BOUNDED arrays
    (``_binned_panel``):

    - ``psi``   — Population Stability Index (drift.psi_bins semantics,
      EPS-clamped proportions),
    - ``ks_d``  — binned two-sample KS (max CDF gap; == what
      ``drift.ks_statistic(bins=...)`` computes on the same quantizer),
    - ``cvm_t`` — binned two-sample Cramér-von Mises
      (== ``drift.cvm_statistic(bins=...)``).

    This is the production face of reference A12's missing guard (the
    reference retrains daily but never checks today's data against the
    training distribution, app/test_AE.py:87-97): per batch only ≤bins
    count cells cross to the driver, state is one bounded report list,
    and the fold is keyed on ``batch_id`` (at-least-once replays
    skipped). An empty batch or an all-zero reference reports NULL
    statistics. Returns (query, reports) — ``reports`` is the live list
    of {batch_id, n, psi, ks_d, cvm_t} dicts in arrival order.
    """
    fold, reports = _drift_monitor_fold(ref_hist, value_col, lo, hi)
    return score_with_batch_operator(stream_df, fold, checkpoint, trigger_once), reports


def _drift_monitor_fold(ref_hist, value_col: str, lo: float, hi: float):
    """The foreachBatch fold behind :func:`drift_monitor_stream`, shared
    with :func:`drift_monitor_replay` so the replay face runs the
    production fold. Returns (fn(batch_df, batch_id), reports)."""
    ref = np.asarray(ref_hist, dtype=np.int64)
    reports: list = []

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        panel = _binned_panel(ref, _batch_hist(batch_df, value_col, lo, hi, len(ref)))
        reports.append(
            {"batch_id": batch_id, **{k: panel[k] for k in ("n", "psi", "ks_d", "cvm_t")}}
        )

    return _once_per_batch(_fold), reports


#: Replay drivers run one fold invocation (a handful of Spark jobs) per
#: distinct batch value — micro-batch replays are inherently few; a
#: high-cardinality batch column would silently turn the replay into
#: thousands of driver-sequenced jobs, so the guard is loud.
MAX_REPLAY_BATCHES = 4096


def _replay_batches(df: DataFrame, batch_col: str) -> list:
    """Ordered distinct batch values for a replay driver, with the
    bounded-cardinality contract enforced loudly."""
    rows = (
        df.select(F.col(batch_col).alias("b"))
        .distinct()
        .orderBy("b")
        .limit(MAX_REPLAY_BATCHES + 1)
        .collect()
    )
    if len(rows) > MAX_REPLAY_BATCHES:
        raise ValueError(
            f"replay: batch_col {batch_col!r} has more than "
            f"{MAX_REPLAY_BATCHES} distinct values — a replay runs the "
            "fold once per batch on the driver; slice on a coarser key."
        )
    return [r["b"] for r in rows]


def _replay(df: DataFrame, batch_col: str, fold, schema: str, row=None) -> DataFrame:
    """The one replay driver: slice a STATIC frame into micro-batches by
    ``batch_col`` (ordered distinct values, batch ids 0, 1, …), drive a
    production foreachBatch ``fold`` — the (fn, reports) pair of a
    ``_*_fold`` factory — over each slice, and return its reports as one
    relation of DDL ``schema``. ``row`` maps a report to its output
    tuple, or to None for a report the relation leaves out; by default
    it takes the schema's fields in order."""
    fn, reports = fold
    if row is None:
        names = [f.split()[0] for f in schema.split(",")]

        def row(r):
            return tuple(r[c] for c in names)

    # One materialization, N cheap slice jobs: without the checkpoint
    # every sequential fold job re-runs the upstream scan. The
    # _replay_batches distinct-collect materializes the blocks.
    df = df.localCheckpoint(eager=False)
    for i, b in enumerate(_replay_batches(df, batch_col)):
        fn(df.where(F.col(batch_col).eqNullSafe(F.lit(b))), i)
    rows = [t for t in map(row, reports) if t is not None]
    return local_frame(df.sparkSession, rows, schema)


def drift_monitor_replay(
    df: DataFrame,
    batch_col: str,
    ref_hist,
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Deterministic replay face of :func:`drift_monitor_stream`: slice a
    STATIC frame into micro-batches by ``batch_col`` (ordered distinct
    values) and drive the exact production foreachBatch fold
    (:func:`_drift_monitor_fold`) over each slice — the registered,
    oracle-checkable entry point for the streaming drift monitor.

    Per batch the fold collects ≤ bins count cells (one bounded
    aggregation per slice); the result is one row per batch —
    (batch_id, n, psi, ks_d, cvm_t) — identical to what the live
    ``reports`` list accumulates when the same slices arrive as real
    micro-batches."""
    return _replay(
        df,
        batch_col,
        _drift_monitor_fold(ref_hist, value_col, lo, hi),
        "batch_id bigint, n bigint, psi double, ks_d double, cvm_t double",
    )


def drift_panel_stream(
    stream_df: DataFrame,
    checkpoint: str,
    ref_hists: dict,
    value_col: str = "value",
    key_col: str = "event_type",
    lo: float = 0.0,
    hi: float = 1.0,
    trigger_once: bool = True,
    max_segments: int = 1024,
):
    """Streaming PER-SEGMENT drift panel: every micro-batch's values
    histogram per ``key_col`` segment under the frozen (lo, hi, bins)
    quantizer, scored against that segment's FROZEN reference histogram
    — PSI + binned KS + binned CvM + binned Anderson-Darling A² per
    (batch, segment) (``_binned_panel``), the streaming face of the
    keyed ``drift.drift_panel``.

    ``ref_hists``: {segment_key: length-bins count array} — e.g. built
    from ``sketch.qsketch_build(train_df, group_cols=[key_col])``; all
    segments must share one bins length (the frozen quantizer). Per
    batch only ≤ |segments|·bins count cells cross to the driver, and
    the segment space is capped: the report keeps the ``max_segments``
    highest-count unseen segments per batch (alphabetical tie-break) and
    records how many were dropped — segment-cardinality explosions
    degrade loudly instead of growing driver state without bound.
    Segments in the batch but not in the reference report NULL stats
    with ``new_segment=True`` (a new segment IS drift). The fold is
    keyed on ``batch_id`` (at-least-once replays skipped).

    Returns (query, reports): reports is the live list of {batch_id,
    key, n, psi, ks_d, cvm_t, ad_a2, new_segment} dicts plus one
    {batch_id, dropped_segments} marker per batch when the cap bit.
    """
    fold, reports = _drift_panel_fold(
        ref_hists, value_col, key_col, lo, hi, max_segments
    )
    return score_with_batch_operator(stream_df, fold, checkpoint, trigger_once), reports


def _drift_panel_fold(
    ref_hists: dict,
    value_col: str,
    key_col: str,
    lo: float,
    hi: float,
    max_segments: int,
):
    """The foreachBatch fold behind :func:`drift_panel_stream`, shared
    with :func:`drift_panel_replay` (the :func:`_drift_monitor_fold`
    contract). Returns (fn(batch_df, batch_id), reports)."""
    refs = {k: np.asarray(v, dtype=np.int64) for k, v in ref_hists.items()}
    lens = {len(v) for v in refs.values()}
    if len(lens) != 1:
        raise ValueError("ref_hists must share one bins length (frozen quantizer)")
    bins = lens.pop()
    empty = np.zeros(bins, dtype=np.int64)
    reports: list = []

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        cells = qsketch_build(
            batch_df, value_col, lo, hi, bins=bins, group_cols=[key_col]
        ).collect()
        by_key: dict = {}
        for r in cells:
            h = by_key.setdefault(r[key_col], np.zeros(bins, dtype=np.int64))
            h[r["qs_bin"]] = r["qs_cnt"]
        known = sorted(
            ((k, h) for k, h in by_key.items() if k in refs), key=lambda kv: str(kv[0])
        )
        unseen = sorted(
            ((k, h) for k, h in by_key.items() if k not in refs),
            key=lambda kv: (-int(kv[1].sum()), str(kv[0])),
        )
        kept_unseen = unseen[:max_segments]
        # an unseen segment scores against an empty reference: NULL stats
        for k, h in known + kept_unseen:
            reports.append(
                {"batch_id": batch_id, "key": k, "new_segment": k not in refs,
                 **_binned_panel(refs.get(k, empty), h)}
            )
        if len(unseen) > len(kept_unseen):
            reports.append(
                {"batch_id": batch_id,
                 "dropped_segments": len(unseen) - len(kept_unseen)}
            )

    return _once_per_batch(_fold), reports


def drift_panel_replay(
    df: DataFrame,
    batch_col: str,
    ref_hists: dict,
    value_col: str = "value",
    key_col: str = "event_type",
    lo: float = 0.0,
    hi: float = 1.0,
    max_segments: int = 1024,
) -> DataFrame:
    """Deterministic replay face of :func:`drift_panel_stream` (the KEYED
    streaming panel): slice a static frame into micro-batches by
    ``batch_col`` and drive the exact production fold over each slice —
    one row per (batch, segment): (batch_id, key, new_segment, n, psi,
    ks_d, cvm_t, ad_a2). Dropped-segment cap markers are omitted from
    the relation (they carry no segment key); the live list still
    records them when the fold runs under a real stream."""
    stats = ("n", "psi", "ks_d", "cvm_t", "ad_a2")
    return _replay(
        df,
        batch_col,
        _drift_panel_fold(ref_hists, value_col, key_col, lo, hi, max_segments),
        "batch_id bigint, key string, new_segment boolean, n bigint, "
        "psi double, ks_d double, cvm_t double, ad_a2 double",
        lambda r: (
            r["batch_id"],
            None if r["key"] is None else str(r["key"]),
            r["new_segment"],
            *[r[s] for s in stats],
        )
        if "key" in r
        else None,
    )


def categorical_drift_stream(
    stream_df: DataFrame,
    checkpoint: str,
    ref_counts: dict,
    columns: list[str],
    trigger_once: bool = True,
    max_categories: int = 4096,
):
    """Streaming CATEGORICAL drift: every micro-batch's category counts
    per string column, scored against that column's FROZEN reference
    counts — PSI (EPS-clamped), Jensen-Shannon divergence, and the
    two-sample chi² homogeneity statistic per (batch, column). The
    streaming face of ``drift.categorical_drift_report``, sharing its
    formulas: the category UNION of reference and batch is scored (a
    category absent from one side counts 0 — missing mass IS drift; chi²
    zero cells contribute their (0−e)²/e evidence).

    ``ref_counts``: {column: {category_value: count}} — e.g. collected
    once from the training corpus (NULL category keys allowed). Per
    batch ONE melt + groupBy collapses the batch to ≤ Σ|categories|
    cells; driver state per column is capped at ``max_categories``
    distinct batch categories (keep highest-count, tie by value) and the
    report records how many were dropped — cardinality explosions
    degrade loudly, never by growing driver state without bound. The
    fold is keyed on batch_id (at-least-once replays skipped).

    Returns (query, reports): reports is the live list of {batch_id,
    column, n, psi, jsd, chi2, dropped_categories} dicts.
    """
    from dataquality_ml_spark.operators.profile import _melt_sql

    refs = {
        c: {k: int(v) for k, v in cats.items()}
        for c, cats in ref_counts.items()
    }
    missing = [c for c in columns if c not in refs or not refs[c]]
    if missing:
        raise ValueError(
            f"categorical_drift_stream: no reference counts for {missing}"
        )
    reports: list = []
    melt = _melt_sql(columns, column="{name}", category="CAST({col} AS STRING)")

    def _score(ref: dict, cur: dict) -> dict:
        n_a = sum(ref.values())
        n_b = sum(cur.values())
        if n_b == 0 or n_a == 0:
            return {"n": int(n_b), "psi": None, "jsd": None, "chi2": None}
        cats = set(ref) | set(cur)
        r = np.array([ref.get(k, 0) for k in cats], dtype=np.float64)
        c = np.array([cur.get(k, 0) for k in cats], dtype=np.float64)
        p, q = r / n_a, c / n_b
        pr, pc = np.maximum(p, EPS), np.maximum(q, EPS)
        psi = float(np.sum((pc - pr) * np.log(pc / pr)))
        m = (p + q) / 2
        tp = np.where(p > 0, p * np.log(np.where(p > 0, p, 1.0) / m), 0.0)
        tq = np.where(q > 0, q * np.log(np.where(q > 0, q, 1.0) / m), 0.0)
        jsd = float((np.sum(tp) + np.sum(tq)) / 2)
        n = float(n_a + n_b)
        row_tot = r + c
        e_r, e_c = row_tot * n_a / n, row_tot * n_b / n
        chi2 = float(
            np.sum(np.where(e_r > 0, (r - e_r) ** 2 / np.where(e_r > 0, e_r, 1.0), 0.0))
            + np.sum(np.where(e_c > 0, (c - e_c) ** 2 / np.where(e_c > 0, e_c, 1.0), 0.0))
        )
        return {"n": int(n_b), "psi": psi, "jsd": jsd, "chi2": chi2}

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        cells = (
            batch_df.selectExpr(melt)
            .groupBy("column", "category")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_col: dict = {c: {} for c in columns}
        for r in cells:
            by_col[r["column"]][r["category"]] = int(r["n"])
        for c in columns:
            cur = by_col[c]
            dropped = 0
            if len(cur) > max_categories:
                keep = sorted(
                    cur.items(), key=lambda kv: (-kv[1], str(kv[0]))
                )[:max_categories]
                dropped = len(cur) - len(keep)
                cur = dict(keep)
            reports.append(
                {"batch_id": batch_id, "column": c,
                 "dropped_categories": dropped, **_score(refs[c], cur)}
            )

    query = score_with_batch_operator(
        stream_df, _once_per_batch(_fold), checkpoint, trigger_once
    )
    return query, reports


def _batch_mean(batch_df: DataFrame, value_col: str) -> tuple:
    """(count, mean) of one micro-batch's non-null ``value_col`` — the two
    scalars per batch that the CUSUM and EWMA folds move to the driver."""
    row = batch_df.agg(
        F.count(F.when(F.col(value_col).isNotNull(), 1)).alias("n"),
        F.avg(value_col).alias("m"),
    ).first()
    return int(row["n"]), row["m"]


def _cusum_monitor_fold(mu0: float, value_col: str, slack: float, h: float):
    """The foreachBatch fold behind :func:`cusum_monitor_stream`, shared
    with :func:`cusum_monitor_replay` (the ``_drift_monitor_fold``
    contract).

    Page's CUSUM (Page 1954) against a FROZEN in-control mean ``mu0``:
    per batch b with mean x̄_b,
      S⁺_b = max(0, S⁺_{b−1} + (x̄_b − μ0 − slack))
      S⁻_b = max(0, S⁻_{b−1} − (x̄_b − μ0 + slack))
    alarm when either exceeds ``h``. State is carried as the prefix-sum
    identity S⁺ = P − min(0, min_j P_j) (and the mirrored max form), so
    the recursion is exactly replayable as two window functions in any
    SQL engine — the property the oracle uses. State = four floats;
    per batch exactly TWO scalars (count, mean) cross to the driver.
    """
    reports: list = []
    st = {"plo": 0.0, "min_plo": 0.0, "phi": 0.0, "max_phi": 0.0}

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        n, m = _batch_mean(batch_df, value_col)
        if n == 0:
            reports.append(
                {"batch_id": batch_id, "n": 0, "mean": None,
                 "splus": None, "sminus": None, "alarm": None}
            )
            return
        st["plo"] += m - mu0 - slack
        st["min_plo"] = min(st["min_plo"], st["plo"])
        st["phi"] += m - mu0 + slack
        st["max_phi"] = max(st["max_phi"], st["phi"])
        splus = st["plo"] - st["min_plo"]
        sminus = st["max_phi"] - st["phi"]
        reports.append(
            {
                "batch_id": batch_id,
                "n": n,
                "mean": m,
                "splus": splus,
                "sminus": sminus,
                "alarm": int(splus > h or sminus > h),
            }
        )

    return _once_per_batch(_fold), reports


def cusum_monitor_stream(
    stream_df: DataFrame,
    checkpoint: str,
    mu0: float,
    value_col: str = "value",
    slack: float = 0.0,
    h: float = 1.0,
    trigger_once: bool = True,
):
    """Streaming CUSUM level monitor: every micro-batch's mean value
    folds into Page's two-sided CUSUM against the frozen in-control mean
    ``mu0`` (the artifact a deployment persists at train time), alarming
    when either one-sided statistic exceeds ``h``. The sequential
    complement to :func:`drift_monitor_stream`: the drift panel asks
    "does this batch look like training", CUSUM asks "has the LEVEL
    drifted, accumulated over batches" — it catches small persistent
    shifts no single-batch test can see. Returns (query, reports)."""
    fold, reports = _cusum_monitor_fold(mu0, value_col, slack, h)
    return score_with_batch_operator(stream_df, fold, checkpoint, trigger_once), reports


def cusum_monitor_replay(
    df: DataFrame,
    batch_col: str,
    mu0: float,
    value_col: str = "value",
    slack: float = 0.0,
    h: float = 1.0,
) -> DataFrame:
    """Deterministic replay face of :func:`cusum_monitor_stream`: slice
    a static frame into micro-batches by ``batch_col`` and drive the
    exact production fold over each slice — one row per batch:
    (batch_id, n, mean, splus, sminus, alarm). The prefix-sum identity
    makes the whole recursion SQL-replayable, so this face is
    hash-gated like any deterministic query."""
    return _replay(
        df,
        batch_col,
        _cusum_monitor_fold(mu0, value_col, slack, h),
        "batch_id bigint, n bigint, mean double, splus double, sminus double, alarm int",
    )


def _ewma_monitor_fold(
    mu0: float, sigma0: float, value_col: str, lam: float, nsigma: float
):
    """The foreachBatch fold behind :func:`ewma_monitor_stream`, shared
    with :func:`ewma_monitor_replay` (the ``_cusum_monitor_fold``
    contract).

    EWMA chart vs a FROZEN in-control reference (μ0, σ0 — the artifact
    a deployment persists at train time): per batch b with mean x̄_b,
      z_b = λ·x̄_b + (1−λ)·z_{b−1},  z_0 = μ0
    out-of-control when z_b leaves μ0 ± L·σ0·sqrt(λ/(2−λ)·(1−(1−λ)^{2b}))
    (exact variance-inflation limits). The recursion is replayable as
    the closed form z_t = r^t·(μ0 + λ·Σ m_i/r^i) — two window
    expressions in any SQL engine, the property the oracle uses (float
    agreement ~ulp; faces round at 6 dp). State = two scalars; per
    batch exactly TWO scalars (count, mean) cross to the driver.
    """
    import math as _math

    reports: list = []
    st = {"z": float(mu0), "t": 0}
    r = 1.0 - lam

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        n, m = _batch_mean(batch_df, value_col)
        if n == 0:
            reports.append(
                {"batch_id": batch_id, "n": 0, "mean": None,
                 "ewma": None, "lcl": None, "ucl": None, "ooc": None}
            )
            return
        st["t"] += 1
        st["z"] = lam * m + r * st["z"]
        half = (
            nsigma
            * sigma0
            * _math.sqrt(lam / (2.0 - lam) * (1.0 - r ** (2 * st["t"])))
        )
        reports.append(
            {
                "batch_id": batch_id,
                "n": n,
                "mean": m,
                "ewma": st["z"],
                "lcl": mu0 - half,
                "ucl": mu0 + half,
                "ooc": int(st["z"] < mu0 - half or st["z"] > mu0 + half),
            }
        )

    return _once_per_batch(_fold), reports


def ewma_monitor_stream(
    stream_df: DataFrame,
    checkpoint: str,
    mu0: float,
    sigma0: float,
    value_col: str = "value",
    lam: float = 0.2,
    nsigma: float = 3.0,
    trigger_once: bool = True,
):
    """Streaming EWMA control chart: every micro-batch's mean folds into
    the exponentially-weighted level vs the frozen training reference
    (μ0, σ0), alarming on the exact variance-inflation limits. Sits
    between the per-batch drift panel (one-shot tests) and CUSUM
    (cumulative level): EWMA reacts to small persistent shifts with a
    tunable memory λ. Returns (query, reports)."""
    fold, reports = _ewma_monitor_fold(mu0, sigma0, value_col, lam, nsigma)
    return score_with_batch_operator(stream_df, fold, checkpoint, trigger_once), reports


def ewma_monitor_replay(
    df: DataFrame,
    batch_col: str,
    mu0: float,
    sigma0: float,
    value_col: str = "value",
    lam: float = 0.2,
    nsigma: float = 3.0,
) -> DataFrame:
    """Deterministic replay face of :func:`ewma_monitor_stream`: slice a
    static frame by ``batch_col`` and drive the exact production fold
    over each slice — one row per batch:
    (batch_id, n, mean, ewma, lcl, ucl, ooc). The closed-form prefix
    identity makes the recursion SQL-replayable, so the streaming
    operator is hash-gated like any deterministic query."""
    return _replay(
        df,
        batch_col,
        _ewma_monitor_fold(mu0, sigma0, value_col, lam, nsigma),
        "batch_id bigint, n bigint, mean double, ewma double, lcl double, ucl double, ooc int",
    )
