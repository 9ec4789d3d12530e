"""Anomaly-threshold operators (SURVEY.md §2.4 A7/A8, §2.8 M13).

The reference derives thresholds driver-side with numpy over collected error
arrays (``np.percentile(errors, 95)`` reference app/AE_model.py:197,234;
``Q3 + 1.5*IQR`` app/LSTM_AE.py:513-517) — the engine computes them as Spark
aggregations and applies them with a JVM-side comparison (M13:
``withColumn("is_anomaly", col > lit(t))``, app/IsolationForest_AE.py:350).

All operators return DataFrames; scalar thresholds cross the driver boundary
only as single aggregate values (the allowed crossing — SURVEY §3 boundary
rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataquality_ml_spark.operators.profile import (
    _collect_column_stats,
    _double_lit,
    _ident,
    exact_quantiles_multi,
    exact_quantiles_select,
)
from dataquality_ml_spark.operators.relational import local_frame


def percentile_threshold(df: DataFrame, col: str, q: float, exact: bool = True) -> float:
    """Threshold = q-th percentile of ``col`` (reference A7: P95/P90/P72).

    ``exact=True`` interpolates linearly as lo·(1−f) + hi·f via the
    histogram-refine selection (``profile.exact_quantiles_select``: no
    single-buffer ``Percentile`` aggregate anywhere in the plan, no
    distinct-value shuffle; NaNs are excluded). The value is bit-equal to
    Spark ``percentile`` and DuckDB ``quantile_cont``, and within 1 ulp of
    ``np.percentile``, whose interpolation rounds differently.
    ``exact=False`` is the mergeable approx sketch (cheaper still — one
    pass, bounded memory).
    """
    if exact:
        return exact_quantiles_select(df, col, [q])[0]
    return df.agg(F.expr(f"percentile_approx({_ident(col)}, {q})").alias("t")).first()["t"]


def iqr_threshold(df: DataFrame, col: str, k: float = 1.5, exact: bool = True) -> float | None:
    """Threshold = Q3 + k·IQR (reference A8, app/LSTM_AE.py:513-517);
    ``None`` for a column without a value, as :func:`percentile_threshold`."""
    if exact:
        q1, q3 = exact_quantiles_select(df, col, [0.25, 0.75])
    else:
        row = df.agg(
            F.expr(f"percentile_approx({_ident(col)}, array(0.25, 0.75))").alias("qs")
        ).first()
        q1, q3 = row["qs"] or (None, None)
    if q1 is None:
        return None
    return q3 + k * (q3 - q1)


def flag_anomalies(df: DataFrame, score_col: str, threshold: float, out: str = "is_anomaly") -> DataFrame:
    """M13: boolean flag column from a scalar threshold."""
    return df.withColumn(out, F.col(score_col) > F.lit(threshold))


def zscore(df: DataFrame, col: str, out: str = "zscore") -> DataFrame:
    """Whole-table z-score via an unpartitioned analytic window.

    Spark plans ``avg/stddev over ()`` as a single-partition window — fine
    for derived error columns, but at 100 TB prefer :func:`zscore_agg`
    (aggregate → broadcast scalar), which keeps full parallelism.
    """
    w = Window.partitionBy()
    mu = F.avg(col).over(w)
    sigma = F.stddev_samp(col).over(w)
    return df.withColumn(out, (F.col(col) - mu) / sigma)


def zscore_agg(df: DataFrame, col: str, out: str = "zscore") -> DataFrame:
    """Scale path for :func:`zscore`: one aggregation computes (μ, σ), the
    normalization is then an embarrassingly parallel projection. Two narrow
    jobs, zero shuffles of row data."""
    row = df.agg(F.avg(col).alias("mu"), F.stddev_samp(col).alias("sigma")).first()
    return df.withColumn(out, (F.col(col) - F.lit(row["mu"])) / F.lit(row["sigma"]))


def clip_outliers(df: DataFrame, col: str, lo_q: float = 0.01, hi_q: float = 0.99, exact: bool = True) -> DataFrame:
    """Winsorize to [P(lo), P(hi)] (reference app/LSTM_AE_enhanced.py:58-69,
    driver-side numpy clip → here ``greatest(lo, least(hi, col))``)."""
    if exact:
        lo, hi = exact_quantiles_select(df, col, [lo_q, hi_q])
    else:
        row = df.agg(
            F.expr(f"percentile_approx({_ident(col)}, array({lo_q}, {hi_q}))").alias("qs")
        ).first()
        # an all-null column has no quantiles: pass it through, as the
        # exact path's (None, None) bounds do
        lo, hi = row["qs"] or (None, None)
    return df.withColumn(col, F.greatest(F.lit(lo), F.least(F.lit(hi), F.col(_ident(col)))))


def mad_robust_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: float = 3.5,
    exact: bool = True,
) -> DataFrame:
    """Robust per-group outlier report via Median Absolute Deviation.

    A heavier-tailed alternative to the reference's P95/IQR thresholds (A7/A8):
    median and MAD are 50%-breakdown estimators, so a contaminated error
    distribution can't drag its own threshold the way μ/σ or even Q3+1.5·IQR
    can. Flag rule: |x − med| > k · 1.4826 · MAD (1.4826 ≈ 1/Φ⁻¹(3/4) makes
    MAD consistent with σ under normality; k=3.5 is the usual cut).

    Three grouped aggregations (med → MAD → counts), each a map-side-combined
    shuffle on ``group_col`` only; per-group scalars move through broadcast
    joins, so no row ever visits the driver. ``exact=True`` computes both
    medians through per-group histogram-refine SELECTION
    (``profile.exact_quantiles_select`` — bit-equal to ``percentile``, no
    per-group single-buffer aggregate, no distinct-value shuffle);
    ``exact=False`` switches both medians to the mergeable approx sketch
    for the cheapest one-pass form.
    """
    gcol = F.col(_ident(group_col))

    def _grouped_median(rel: DataFrame, col: str, out: str) -> DataFrame:
        if exact:
            # histogram-refine SELECTION per group: narrow scans + a
            # chains·bins count shuffle — never a distinct-value shuffle;
            # >64 groups switch to broadcast-JOIN chain membership inside,
            # same count-row shuffles at any segment count. The medians
            # come back as scalars, which is exactly what the broadcast
            # join below ships anyway.
            med = exact_quantiles_select(rel, col, [0.5], group_by=[group_col])
            gtype = rel.schema[group_col].dataType.simpleString()
            return local_frame(
                rel.sparkSession,
                [(g[0], v[0]) for g, v in med.items()],
                f"{_ident(group_col)} {gtype}, {out} double",
            )
        return rel.groupBy(gcol).agg(
            F.expr(f"percentile_approx({_ident(col)}, 0.5)").alias(out)
        )

    med = _grouped_median(df, value_col, "med")
    dev = df.join(F.broadcast(med), group_col).withColumn(
        "abs_dev", F.abs(F.col(_ident(value_col)) - F.col("med"))
    )
    # the deviation relation feeds BOTH the MAD build (which itself reads
    # it twice through the prefix-sum subtotal job) and the final counts
    # agg — a lazy checkpoint materializes the scan + join once
    dev = dev.localCheckpoint(eager=False)
    mad = _grouped_median(dev, "abs_dev", "mad")
    thr = F.lit(k) * F.lit(1.4826) * F.col("mad")
    return (
        dev.join(F.broadcast(mad), group_col)
        .groupBy(gcol)
        .agg(
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("abs_dev") > thr, F.lit(1))).alias("n_outliers"),
        )
    )


def batched_thresholds(
    df: DataFrame,
    cols: list[str],
    ps: tuple[float, ...] = (0.9, 0.95),
    iqr_k: float = 1.5,
    mad: bool = True,
    exact: bool = True,
) -> dict[str, dict[str, float]]:
    """Every threshold statistic for EVERY column in one stats pass
    (VERDICT r3 item 6): the scalar helpers above each run their own
    aggregation job, so a caller fitting several thresholds on one table
    pays one full scan per threshold. This computes the requested
    percentiles plus Q1/median/Q3 for all columns in ONE pass, and
    (``mad=True``) the per-column MADs in ONE more — 2 jobs total instead
    of 3·n_cols. (MAD is inherently two-pass: it is the median of
    deviations from the median.)

    Returns ``{col: {"p90": …, "p95": …, "q1": …, "median": …, "q3": …,
    "iqr": …, "iqr_threshold": q3 + k·iqr, "mad": …}}`` — drop-in values
    for :func:`flag_anomalies`. ``exact=True`` locates ALL columns'
    order statistics in the shared histogram-refine selection scans
    (bit-equal to ``percentile``, no single-buffer aggregate, no
    distinct-value shuffle; NaNs excluded). ``exact=False`` is the
    mergeable approx sketch (cheapest — one pass, bounded memory) in the
    column-keyed aggregation of ``profile._column_stats``: one
    ``percentile_approx`` per pass whatever the column count, over the
    columns' values as DOUBLE (NaNs included, as over the column itself).
    """
    all_qs = sorted({*ps, 0.25, 0.5, 0.75})
    if exact:
        # all-null columns come back as {q: None} — every stat None
        per_col = exact_quantiles_multi(df, cols, all_qs)
    else:
        q_list = ", ".join(str(q) for q in all_qs)
        rows = _collect_column_stats(df, cols, [("qs", f"percentile_approx(v, array({q_list}))")])
        per_col = {
            c: dict(zip(all_qs, r["qs"] if r and r["qs"] is not None else [None] * len(all_qs)))
            for c, r in zip(cols, rows)
        }
    out: dict[str, dict[str, float]] = {}
    for c in cols:
        by_q = per_col[c]
        q1, q3 = by_q[0.25], by_q[0.75]
        stats = {f"p{round(q * 100):g}": by_q[q] for q in ps}
        stats.update(
            {
                "q1": q1,
                "median": by_q[0.5],
                "q3": q3,
                "iqr": q3 - q1 if q3 is not None else None,
                "iqr_threshold": q3 + iqr_k * (q3 - q1) if q3 is not None else None,
            }
        )
        out[c] = stats
    if mad:
        # all-null columns have no median; their MAD is None by definition
        mad_cols = [c for c in cols if out[c]["median"] is not None]
        meds = [_double_lit(out[c]["median"]) for c in mad_cols]
        mads: dict = {}
        if mad_cols and exact:
            dev = df.selectExpr(
                *[f"abs({_ident(c)} - {m}) AS {_ident(c)}" for c, m in zip(mad_cols, meds)]
            )
            mads = {c: v[0.5] for c, v in exact_quantiles_multi(dev, mad_cols, [0.5]).items()}
        elif mad_cols:
            dev = f"abs(v - element_at(array({', '.join(meds)}), i + 1))"
            rows = _collect_column_stats(df, mad_cols, [("mad", f"percentile_approx({dev}, 0.5)")])
            mads = {c: r["mad"] for c, r in zip(mad_cols, rows) if r}
        for c in cols:
            out[c]["mad"] = mads.get(c)
    return out


def impute_mean(df: DataFrame, cols: list[str]) -> DataFrame:
    """Mean imputation (reference A3/M1, Imputer(strategy="mean")
    lib/utils.py:209-213) as one stats aggregation + one projection."""
    row = df.agg(*[F.avg(F.col(_ident(c))).alias(c) for c in cols]).first()
    return df.withColumns({c: F.coalesce(F.col(_ident(c)), F.lit(row[c])) for c in cols})


def impute_median(df: DataFrame, cols: list[str], exact: bool = True) -> DataFrame:
    """Median imputation (reference A4/M1, Imputer(strategy="median")
    app/IsolationForest_AE.py:116-121).  ``exact=True`` locates all
    medians in the shared histogram-refine selection scans
    (``profile.exact_quantiles_multi`` — no single-buffer ``Percentile``
    aggregate, NaNs excluded); ``exact=False`` is the approx sketch."""
    if exact:
        meds = {c: v[0.5] for c, v in exact_quantiles_multi(df, cols, [0.5]).items()}
    else:
        row = df.agg(
            *[F.expr(f"percentile_approx({_ident(c)}, 0.5)").alias(c) for c in cols]
        ).first()
        meds = {c: row[c] for c in cols}
    return df.withColumns(
        {c: F.coalesce(F.col(_ident(c)), F.lit(meds[c])) for c in cols}
    )
