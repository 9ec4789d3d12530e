"""Custom stateful streaming operator (SURVEY.md §2.9 extension):
per-key running anomaly detection via ``applyInPandasWithState``.

Keeps an exponentially-weighted mean/variance per key (Welford-style EW
update) and flags arriving values whose deviation exceeds ``z_threshold``
sigmas — the streaming analog of the batch z-score operator, with O(1)
state per key (bounded memory regardless of stream length; GroupState TTL
handles key expiry).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [
        StructField("mean", DoubleType()),
        StructField("var", DoubleType()),
        StructField("n", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("ew_mean", DoubleType()),
        StructField("zscore", DoubleType()),
    ]
)


def make_ew_anomaly_fn(alpha: float = 0.1, z_threshold: float = 3.0, min_n: int = 5):
    """Build the per-group update function: emits rows whose EW z-score
    exceeds the threshold (after a warm-up of ``min_n`` observations).
    Each value is scored against the state BEFORE it is folded in (never
    against state that already includes it)."""

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            mean, var, n = state.get
        else:
            mean, var, n = 0.0, 1.0, 0
        out_rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values("event_id")
            for eid, v in zip(pdf["event_id"], pdf["value"]):
                v = float(v)
                if n >= min_n:
                    sd = max(var, 1e-12) ** 0.5
                    z = (v - mean) / sd
                    if abs(z) > z_threshold:
                        out_rows.append((key[0], int(eid), v, mean, z))
                if n == 0:
                    mean, var = v, 1.0
                else:
                    delta = v - mean
                    mean = mean + alpha * delta
                    var = (1 - alpha) * (var + alpha * delta * delta)
                n += 1
        state.update((mean, var, n))
        if out_rows:
            yield pd.DataFrame(
                out_rows, columns=["key", "event_id", "value", "ew_mean", "zscore"]
            )

    return update


def ew_anomaly_stream(
    stream_df: DataFrame,
    key_col: str = "user_id",
    alpha: float = 0.1,
    z_threshold: float = 3.0,
    min_n: int = 5,
) -> DataFrame:
    """Wire the stateful function onto a stream: one shuffle on the key,
    per-key GroupState holding three scalars."""
    return (
        stream_df.groupBy(key_col)
        .applyInPandasWithState(
            make_ew_anomaly_fn(alpha, z_threshold, min_n),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Stateful sliding-window sequence scoring: the streaming face of the
# engine's sequence-detector lifecycle (engine.FittedSequenceDetector).
# ---------------------------------------------------------------------------

SEQ_STATE_SCHEMA = StructType(
    [
        # rolling buffer of the last (timesteps-1) rows, row-major flattened
        # — the ONLY state a sliding window needs, O(T·f) per key
        StructField("vals", ArrayType(DoubleType())),
    ]
)

SEQ_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("order_key", LongType()),
        StructField("score", DoubleType()),
        StructField("is_anomaly", BooleanType()),
    ]
)


def make_sequence_scorer_fn(model, threshold: float, timesteps: int, feature_cols, order_col: str):
    """Per-group update closure: carry the last T−1 rows across micro-
    batches, score every row that completes a T-row window (windows that
    SPAN batch boundaries score identically to the batch operator — that
    continuity is the whole point of the state), trim, persist.

    All eligible windows of a batch score in ONE ``reconstruction_error``
    call (stacked matrix), so the model cost per micro-batch is one
    vectorized pass, not per-row Python.
    """
    import numpy as np

    n_f = len(feature_cols)

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        buf = list(state.get[0]) if state.exists else []
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            state.update((buf,))
            return
        batch = pd.concat(frames).sort_values(order_col)
        flat = batch[list(feature_cols)].to_numpy(dtype=float).reshape(-1)
        n_prev = len(buf) // n_f
        allv = np.concatenate([np.asarray(buf, dtype=float), flat])
        orders = batch[order_col].to_numpy()
        m = len(orders)
        # batch row j sits at global row n_prev + j; a full window needs
        # T rows ending there
        eligible = [j for j in range(m) if n_prev + j + 1 >= timesteps]
        if eligible:
            wins = np.stack(
                [
                    allv[(n_prev + j + 1 - timesteps) * n_f : (n_prev + j + 1) * n_f]
                    for j in eligible
                ]
            )
            scores = model.reconstruction_error(wins)
            yield pd.DataFrame(
                {
                    "key": [key[0]] * len(eligible),
                    "order_key": [int(orders[j]) for j in eligible],
                    "score": scores,
                    "is_anomaly": scores > threshold,
                }
            )
        keep = allv[max(0, (n_prev + m - (timesteps - 1))) * n_f :]
        state.update((keep.tolist(),))

    return update


def sequence_score_stream(stream_df: DataFrame, fitted) -> DataFrame:
    """Score a stream with a batch-fitted sequence detector
    (``engine.FittedSequenceDetector`` — duck-typed to avoid a circular
    import): one shuffle on the artifact's key, per-key GroupState of the
    last T−1 feature rows, frozen batch threshold. Windows spanning
    micro-batch boundaries score EXACTLY like the batch operator.

    Assumes per-key monotone arrival in ``fitted.order`` (file/offset
    ordered sources); late data needs an upstream watermark + sort per
    micro-batch, same caveat as the reference's order-free windowing —
    documented, not silently mis-scored, since the order key is emitted
    with every score. Keys and order columns are emitted as ``long``.
    """
    fn = make_sequence_scorer_fn(
        fitted.model,
        fitted.threshold,
        fitted.timesteps,
        fitted.features,
        fitted.order,
    )
    return stream_df.groupBy(fitted.key).applyInPandasWithState(
        fn,
        outputStructType=SEQ_OUTPUT_SCHEMA,
        stateStructType=SEQ_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
