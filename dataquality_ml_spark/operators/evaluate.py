"""Evaluation operators (SURVEY.md §2.4 A11-A13).

The reference computes confusion counts, detection rate, FPR, precision, F1
and ROC/AUC driver-side in numpy/sklearn (reference
app/IsolationForest_AE.py:369-396, app/test_AE.py:240-274,
lib/utils.py:117-151). Here they are grouped aggregations and window sweeps —
the 2×2 confusion matrix is a groupBy over two booleans; AUC is the
Mann-Whitney rank statistic computed with analytic windows (ties handled by
midranks, exactly matching sklearn.roc_auc_score).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataquality_ml_spark.operators.profile import _ident
from dataquality_ml_spark.operators.relational import local_frame


def confusion_counts(df: DataFrame, pred: str = "is_anomaly", actual: str = "actual_failure") -> DataFrame:
    """2×2 confusion counts (reference A11) — one grouped aggregation."""
    p, a = F.col(_ident(pred)), F.col(_ident(actual))
    return (
        df.groupBy(p.cast("boolean").alias(pred), a.cast("boolean").alias(actual))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(p, a)
    )


def confusion_metrics(df: DataFrame, pred: str = "is_anomaly", actual: str = "actual_failure") -> DataFrame:
    """Detection rate / FPR / precision / F1 as one row (reference
    app/test_AE.py:250-274 formulas), derived from a single aggregation —
    no row data leaves the executors."""
    p = F.col(_ident(pred)).cast("boolean")
    a = F.col(_ident(actual)).cast("boolean")
    agg = df.agg(
        F.count(F.when(p & a, 1)).alias("tp"),
        F.count(F.when(p & ~a, 1)).alias("fp"),
        F.count(F.when(~p & ~a, 1)).alias("tn"),
        F.count(F.when(~p & a, 1)).alias("fn"),
    )
    tp, fp, tn, fn = F.col("tp"), F.col("fp"), F.col("tn"), F.col("fn")
    detection = tp / F.greatest(tp + fn, F.lit(1))
    fpr = fp / F.greatest(fp + tn, F.lit(1))
    precision = tp / F.greatest(tp + fp, F.lit(1))
    f1 = 2 * precision * detection / F.greatest(precision + detection, F.lit(1e-12))
    return agg.select(
        tp, fp, tn, fn,
        F.round(detection, 4).alias("detection_rate"),
        F.round(fpr, 4).alias("false_positive_rate"),
        F.round(precision, 4).alias("precision"),
        F.round(f1, 4).alias("f1"),
    )


def roc_auc(df: DataFrame, score: str, label: str) -> DataFrame:
    """Exact ROC AUC via the Mann-Whitney U statistic with midranks
    (equivalent to trapezoidal sklearn.roc_auc_score, reference A12).

    AUC = (Σ midrank(positives) − n_pos(n_pos+1)/2) / (n_pos · n_neg)

    The global rank needs a total order: Spark plans the unpartitioned
    window as a single-partition sort. Exact AUC is inherently a global
    order statistic; at 100 TB use :func:`roc_auc_binned`.
    """
    s = F.col(_ident(score))
    w_rank = Window.partitionBy().orderBy(s)
    ranked = df.select(
        F.col(_ident(label)).cast("boolean").alias("__y"),
        F.row_number().over(w_rank).alias("__rn"),
        s.alias("__s"),
    ).withColumn("__midrank", F.avg("__rn").over(Window.partitionBy("__s")))
    agg = ranked.agg(
        F.sum(F.when(F.col("__y"), F.col("__midrank"))).alias("rank_sum"),
        F.count(F.when(F.col("__y"), 1)).alias("np"),
        F.count(F.when(~F.col("__y"), 1)).alias("nn"),
    )
    auc = (F.col("rank_sum") - F.col("np") * (F.col("np") + 1) / 2) / (
        F.col("np") * F.col("nn")
    )
    # single-class guard: AUC is undefined with no positives
    # or no negatives — report NULL, not an ANSI DIVIDE_BY_ZERO
    auc = F.when((F.col("np") > 0) & (F.col("nn") > 0), auc)
    # same empty-input face as roc_auc_binned: (auc NULL, 0, 0)
    return agg.select(
        F.round(auc, 4).alias("auc"),
        F.coalesce("np", F.lit(0)).alias("np"),
        F.coalesce("nn", F.lit(0)).alias("nn"),
    )


def roc_auc_binned(df: DataFrame, score: str, label: str, bins: int = 10000) -> DataFrame:
    """Scale path for AUC: quantize scores into ``bins`` buckets (one
    aggregation, fully parallel), then apply the midrank formula to the
    per-bucket (n_pos, n_neg) histogram — O(bins) driver work, error
    bounded by bucket width. This is how AUC survives 100 TB.

    The only window runs over the ≤ ``bins``-row histogram — bounded by
    a constant knob, not by data, so the single-partition sort it plans
    is a non-hazard (unlike the exact path's row-level rank).  Pair
    counting is EXACT integer arithmetic (2·won summed as decimal(38,0)
    — no half-pair doubles, overflow-safe past int64), with ONE double
    division at the end, so a DuckDB oracle replaying the same algebra
    is bit-identical (cross-engine float rule: identical left-to-right
    pure-float ops after exact integer aggregation)."""
    lohi = df.agg(F.min(score).alias("lo"), F.max(score).alias("hi")).first()
    if lohi["lo"] is None:  # empty / all-null input: (auc NULL, 0, 0)
        lo, hi = 0.0, 1.0
    else:
        lo, hi = float(lohi["lo"]), float(lohi["hi"])
    width = (hi - lo) / bins or 1.0
    bucket = F.least(
        F.lit(bins - 1), F.floor((F.col(score) - F.lit(lo)) / F.lit(width))
    ).alias("__b")
    hist = (
        df.select(bucket, F.col(label).cast("boolean").alias("__y"))
        .groupBy("__b")
        .agg(
            F.count(F.when(F.col("__y"), 1)).alias("np"),
            F.count(F.when(~F.col("__y"), 1)).alias("nn"),
        )
        .orderBy("__b")
    )
    w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    scored = hist.select(
        F.col("np"),
        F.col("nn"),
        F.coalesce(F.sum("nn").over(w), F.lit(0)).alias("nn_below"),
    )
    # doubled pairs won = positives beat all negatives in lower buckets
    # (×2) + ties in-bucket (×1) — stays integral, summed exactly
    won2 = (
        F.col("np").cast("decimal(38,0)")
        * (2 * F.col("nn_below") + F.col("nn")).cast("decimal(38,0)")
    )
    agg = scored.agg(
        F.sum(won2).alias("won2"),
        F.sum("np").alias("np"),
        F.sum("nn").alias("nn"),
    )
    auc = F.col("won2").cast("double") / (2.0 * F.col("np") * F.col("nn"))
    # single-class / empty guard: NULL, not DIVIDE_BY_ZERO
    auc = F.when((F.col("np") > 0) & (F.col("nn") > 0), auc)
    return agg.select(
        F.round(auc, 4).alias("auc"),
        F.coalesce("np", F.lit(0)).alias("np"),
        F.coalesce("nn", F.lit(0)).alias("nn"),
    )


def calibration_curve(
    df: DataFrame,
    score: str,
    label: str,
    bins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Reliability diagram + Expected Calibration Error — the evaluation
    the reference's confusion/ROC pair misses: whether the SCORES mean
    what they claim, which decides if a fixed probability threshold
    transfers across days.

    One scan: clamped equi-width bin over the score → per-bin
    (n, mean predicted score, empirical positive rate, |gap|). ECE —
    Σ (n_b/N)·|mean_score_b − frac_pos_b| — rides every row like
    ``psi_bins``' psi_total, so one relation carries the diagram AND the
    scalar. Output: (bin, n, mean_score, frac_pos, gap, ece), one row
    per OCCUPIED bin (empty bins carry no mass — they cannot contribute
    to ECE, and both engines agree on the row set). Null scores/labels
    excluded; rows at any corpus size collapse to ≤ ``bins`` cells
    map-side.
    """
    w = (hi - lo) / bins
    raw = F.floor((F.col(score) - F.lit(lo)) / F.lit(w)).cast("int")
    b = F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw))
    cells = (
        df.where(F.col(score).isNotNull() & F.col(label).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.col(score)).alias("mean_score"),
            F.avg(F.col(label).cast("double")).alias("frac_pos"),
        )
    )
    tot = Window.partitionBy()  # ≤ bins rows — bounded by a constant knob
    return (
        cells.withColumn("gap", F.abs(F.col("mean_score") - F.col("frac_pos")))
        .withColumn(
            "ece",
            F.sum(F.col("n") * F.col("gap")).over(tot) / F.sum("n").over(tot),
        )
        .orderBy("bin")
    )


def brier_score(
    df: DataFrame,
    score: str,
    label: str,
    bins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Brier score + Murphy decomposition as a 1-row DataFrame
    (brier, reliability, resolution, uncertainty, n) — the proper
    scoring rule behind ``calibration_curve``'s diagram: brier is the
    EXACT mean squared error of the probability forecasts (one
    map-side-combined aggregation over the rows); reliability/resolution
    come from the same ≤``bins`` calibration cells (REL − RES + UNC is
    the binned-forecast identity — exact when scores are constant within
    a bin, the standard reading otherwise).

        brier = E[(s − y)²]
        REL   = Σ n_b/N·(s̄_b − ȳ_b)²   (calibration gap, smaller better)
        RES   = Σ n_b/N·(ȳ_b − ȳ)²     (discrimination, larger better)
        UNC   = ȳ·(1 − ȳ)
    """
    w = (hi - lo) / bins
    raw = F.floor((F.col(score) - F.lit(lo)) / F.lit(w)).cast("int")
    b = F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw))
    rows = df.where(F.col(score).isNotNull() & F.col(label).isNotNull())
    y = F.col(label).cast("double")
    cells = rows.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col(score)).alias("sb"),
        F.avg(y).alias("yb"),
        F.sum((F.col(score) - y) * (F.col(score) - y)).alias("se"),
    )
    tot = Window.partitionBy()  # ≤ bins rows — bounded
    enriched = cells.select(
        "n",
        "sb",
        "yb",
        "se",
        F.sum("n").over(tot).alias("n_tot"),
        (F.sum(F.col("yb") * F.col("n")).over(tot) / F.sum("n").over(tot)).alias(
            "ybar"
        ),
    )
    return enriched.agg(
        (F.sum("se") / F.max("n_tot")).alias("brier"),
        (
            F.sum(
                F.col("n") * (F.col("sb") - F.col("yb")) * (F.col("sb") - F.col("yb"))
            )
            / F.max("n_tot")
        ).alias("reliability"),
        (
            F.sum(
                F.col("n") * (F.col("yb") - F.col("ybar")) * (F.col("yb") - F.col("ybar"))
            )
            / F.max("n_tot")
        ).alias("resolution"),
        (F.max("ybar") * (1 - F.max("ybar"))).alias("uncertainty"),
        F.max("n_tot").alias("n"),
    )


def lift_table(
    df: DataFrame,
    score: str,
    label: str,
    bins: int = 20,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Cumulative gains / lift table + binned average precision — the
    ranking evaluation for a score used to PRIORITIZE (review queues,
    selection budgets): per score bin, DESCENDING, the cumulative share
    of rows taken (depth), share of positives captured (gain), lift
    over random, precision and recall at that cut, with the binned
    PR-AUC (Σ Δrecall·precision over the descending sweep) riding every
    row.

    Targeting-by-rank needs a global sort at 100 TB; targeting by SCORE
    BIN does not — one scan collapses the corpus to ≤``bins`` cells and
    every cumulative runs over that bounded relation (the
    ``roc_auc_binned`` shape; cut granularity = one bin of score).
    Output: (bin, n, n_pos, depth, gain, lift, precision, recall,
    pr_auc), highest score bin first, occupied bins only.
    """
    w = (hi - lo) / bins
    raw = F.floor((F.col(score) - F.lit(lo)) / F.lit(w)).cast("int")
    b = F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw))
    rows = df.where(F.col(score).isNotNull() & F.col(label).isNotNull())
    cells = rows.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(label).cast("long")).alias("n_pos"),
    )
    desc = (
        Window.partitionBy()
        .orderBy(F.desc("bin"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )  # ≤ bins rows — bounded by a constant knob
    tot = Window.partitionBy()
    cum = cells.select(
        "bin",
        "n",
        "n_pos",
        F.sum("n").over(desc).alias("cum_n"),
        F.sum("n_pos").over(desc).alias("cum_pos"),
        F.sum("n").over(tot).alias("n_tot"),
        F.sum("n_pos").over(tot).alias("pos_tot"),
    )
    depth = F.col("cum_n") / F.col("n_tot")
    # zero-positives guard: a batch with no positive labels would throw
    # DIVIDE_BY_ZERO under Spark 4's default ANSI mode (or emit NaN with
    # ansi off) — gain/lift/recall/pr_auc are undefined there, so report
    # NULL for them; depth/precision stay defined (cum_n > 0 on every
    # occupied bin)
    gain = F.when(
        F.col("pos_tot") > 0, F.col("cum_pos") / F.col("pos_tot")
    ).otherwise(F.lit(None).cast("double"))
    precision = F.col("cum_pos") / F.col("cum_n")
    prev_gain = F.lag(gain, 1, 0.0).over(Window.partitionBy().orderBy(F.desc("bin")))
    stepped = cum.select(
        "bin",
        "n",
        "n_pos",
        depth.alias("depth"),
        gain.alias("gain"),
        (gain / depth).alias("lift"),
        precision.alias("precision"),
        gain.alias("recall"),
        ((gain - prev_gain) * precision).alias("ap_term"),
    )
    return (
        stepped.withColumn("pr_auc", F.sum("ap_term").over(tot))
        .drop("ap_term")
        .orderBy(F.desc("bin"))
    )


def woe_iv(
    df: DataFrame,
    feature: str,
    label,
    lo: float,
    hi: float,
    bins: int = 10,
) -> DataFrame:
    """Weight of Evidence / Information Value feature screen — per
    equi-width bin of ``feature``: event/non-event counts, their class
    fractions, WoE = ln(frac_pos/frac_neg) (EPS-clamped like the PSI
    family so empty cells stay finite), the bin's IV term, and the
    repeated iv_total = Σ (frac_pos − frac_neg)·WoE. The credit-scoring
    screen (IV < 0.02 useless, > 0.3 strong) that ranks features against
    a binary label BEFORE any model is fit — cheaper and more robust
    than fitting per-feature models.

    ``label`` is a boolean Column (or column name). One aggregation to
    ≤``bins`` rows under the frozen (lo, hi) quantizer (out-of-range
    clamps to edge bins, same as the sketch family); all fractions are
    fixed float expressions over exact integer counts. The valid
    population is non-null AND non-NaN: a NaN feature value would
    otherwise clamp into bin 0 via floor(NaN/w).
    """
    from dataquality_ml_spark.operators.profile import _valid

    eps = 1e-6
    y = F.col(label) if isinstance(label, str) else label
    width = (float(hi) - float(lo)) / bins
    b = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col(feature) - F.lit(float(lo))) / F.lit(width)).cast("int"),
        ),
    )
    cells = (
        df.where(_valid(df, feature))
        .select(b.alias("bin"), y.cast("boolean").alias("__y"))
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("__y"), 1)).alias("n_pos"),
            F.count(F.when(~F.col("__y"), 1)).alias("n_neg"),
        )
    )
    w = Window.partitionBy()
    fp = F.greatest(F.col("n_pos") / F.sum("n_pos").over(w), F.lit(eps))
    fn = F.greatest(F.col("n_neg") / F.sum("n_neg").over(w), F.lit(eps))
    woe = F.log(fp / fn)
    iv_term = (fp - fn) * woe
    return cells.select(
        "bin",
        "n_pos",
        "n_neg",
        fp.alias("frac_pos"),
        fn.alias("frac_neg"),
        woe.alias("woe"),
        iv_term.alias("iv_term"),
        F.sum(iv_term).over(w).alias("iv_total"),
    )


def conversion_ztest(
    df: DataFrame,
    group_col: str,
    success_col,
    control,
) -> DataFrame:
    """Two-proportion z-test of every variant against a control group —
    the A/B-test readout: per variant (variant, n_control, conv_control,
    n_variant, conv_variant, lift, z). z = (p_v − p_c) /
    sqrt(p̂(1−p̂)(1/n_c + 1/n_v)) with the pooled proportion p̂; |z| > 1.96
    is the usual 5% two-sided call. All inputs are exact integer counts,
    so the statistic is one fixed float expression — engine-portable.

    One grouped aggregation to |groups| rows; the control row broadcasts
    back across variants. Null groups are dropped; a zero-variance pool
    (p̂ ∈ {0, 1}) reports NULL z instead of dividing by zero. A ``control``
    value absent from ``group_col`` RAISES at execution (left join +
    raise_error) instead of silently returning zero rows — loud-contract
    convention for misconfiguration.
    """
    y = F.col(success_col) if isinstance(success_col, str) else success_col
    agg = (
        df.where(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("variant"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(y.cast("boolean"), 1)).alias("k"),
        )
    )
    ctl = agg.where(F.col("variant") == F.lit(control)).select(
        F.col("n").alias("n_control"), F.col("k").alias("k_control")
    )
    v = agg.where(F.col("variant") != F.lit(control))
    j = v.join(F.broadcast(ctl), F.lit(True), "left").withColumn(
        "n_control",
        F.when(
            F.col("n_control").isNull(),
            F.raise_error(
                F.lit(
                    "conversion_ztest: control group "
                    f"{control!r} has no rows in {group_col!r}"
                )
            ).cast("long"),
        ).otherwise(F.col("n_control")),
    )
    p_c = F.col("k_control") / F.col("n_control").cast("double")
    p_v = F.col("k") / F.col("n").cast("double")
    pool = (F.col("k") + F.col("k_control")) / (
        F.col("n") + F.col("n_control")
    ).cast("double")
    se = F.sqrt(
        pool * (1 - pool)
        * (1.0 / F.col("n_control") + 1.0 / F.col("n"))
    )
    return j.select(
        "variant",
        "n_control",
        p_c.alias("conv_control"),
        F.col("n").alias("n_variant"),
        p_v.alias("conv_variant"),
        (p_v - p_c).alias("lift"),
        F.when(se > 0, (p_v - p_c) / se).alias("z"),
    )


def conformal_interval(
    cal_df: DataFrame,
    test_df: DataFrame,
    residual_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal prediction interval: q̂ = the
    ⌈(n+1)(1−α)⌉-th smallest |residual| on a held-out calibration set,
    giving intervals prediction ± q̂ with finite-sample ≥(1−α) coverage
    guarantee (Vovk et al.; distribution-free). Returns one row:
    (n_cal, qhat, n_test, coverage) — coverage is the measured fraction
    of test |residuals| within q̂, the empirical check of the guarantee.

    q̂ is an exact order statistic located through the shared
    histogram-refine selection engine (k-th smallest ⇔ the q = (k−1)/(n−1)
    interpolation point, frac 0); the coverage pass is one aggregation.
    """
    import math

    ar = F.abs(F.col(residual_col))
    cal = cal_df.where(
        F.col(residual_col).isNotNull() & ~F.isnan(residual_col)
    ).select(ar.alias("r"))
    n = cal.count()
    if n == 0:
        raise ValueError("conformal_interval: empty calibration set")
    k = min(n, int(math.ceil((n + 1) * (1.0 - alpha))))
    from dataquality_ml_spark.operators.profile import exact_quantiles_select

    q = 0.0 if n == 1 else (k - 1) / (n - 1)
    [qhat] = exact_quantiles_select(cal, "r", [q])
    return test_df.where(
        F.col(residual_col).isNotNull() & ~F.isnan(residual_col)
    ).agg(
        F.lit(n).alias("n_cal"),
        F.lit(float(qhat)).alias("qhat"),
        F.count(F.lit(1)).alias("n_test"),
        F.avg((ar <= F.lit(float(qhat))).cast("double")).alias("coverage"),
    )


def ratio_metric_ci(
    df: DataFrame,
    group_col: str,
    num_col: str,
    den_col: str,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric per group —
    R = Σx/Σy (revenue per session, clicks per view …) with
    Var(x̄/ȳ) ≈ (σ_x² + R²σ_y² − 2Rσ_xy)/(n·ȳ²): the A/B readout for
    metrics whose denominator varies per unit, where the naive
    per-row-mean CI is simply wrong (ratio of means ≠ mean of ratios).
    Returns per group: (variant, n, ratio, se, ci_lo, ci_hi).

    ONE grouped aggregation to |groups| rows — Σx, Σy, Σx², Σy², Σxy —
    then fixed float expressions; population covariance, NULL se/ci on
    degenerate groups (n < 2 or Σy = 0).
    """
    x = F.col(num_col).cast("double")
    y = F.col(den_col).cast("double")
    agg = (
        df.where(
            F.col(group_col).isNotNull()
            & x.isNotNull()
            & y.isNotNull()
            & ~F.isnan(x)
            & ~F.isnan(y)
        )
        .groupBy(F.col(group_col).alias("variant"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * x).alias("sxx"),
            F.sum(y * y).alias("syy"),
            F.sum(x * y).alias("sxy"),
        )
    )
    n = F.col("n").cast("double")
    xb = F.col("sx") / n
    yb = F.col("sy") / n
    r = F.col("sx") / F.col("sy")
    vx = F.col("sxx") / n - xb * xb
    vy = F.col("syy") / n - yb * yb
    cxy = F.col("sxy") / n - xb * yb
    se = F.when(
        (F.col("n") >= 2) & (F.col("sy") != 0),
        F.sqrt(
            F.greatest(vx + r * r * vy - 2 * r * cxy, F.lit(0.0))
            / (n * yb * yb)
        ),
    )
    return agg.select(
        "variant",
        "n",
        F.when(F.col("sy") != 0, r).alias("ratio"),
        se.alias("se"),
        (F.when(F.col("sy") != 0, r) - F.lit(float(z)) * se).alias("ci_lo"),
        (F.when(F.col("sy") != 0, r) + F.lit(float(z)) * se).alias("ci_hi"),
    )


#: Poisson(1) CDF, cumulative — frozen decimal literals shared verbatim
#: with the DuckDB oracle so the inverse-CDF bucket of u is identical in
#: both engines (u itself is rational: hash/2^32).
_POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
    0.999998874797402,
    0.9999998885745216,
)


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_boot: int = 64,
    alpha: float = 0.05,
    group_col: str | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """Distributed bootstrap CI for the mean via Poissonization (Chamandy
    et al. 2012 — the estimator behind "bootstrapping the big data way"):
    replicate b reweights row i by an independent Poisson(1) count, so
    all ``n_boot`` resamples ride ONE scan instead of n_boot shuffles of
    the corpus. The draw is DETERMINISTIC — u = portable md5 hash of
    (id, b) / 2³², pushed through the frozen Poisson(1) inverse CDF — so
    the whole bootstrap is reproducible and engine-replayable (no RNG
    state, no partition-order dependence). Returns one row:
    (n, mean, boot_lo, boot_median, boot_hi, n_boot).

    Scale shape: the explode multiplies rows ×n_boot but stays NARROW
    (no shuffle until the n_boot-row groupBy); the CI quantiles run over
    the bounded replicate relation. At 100 TB pick n_boot ≈ 32–128 — the
    classic accuracy/flops dial. ``id_col`` must be INTEGRAL and
    NON-NEGATIVE: the 64-bit id is first PREMIXED (splitmix-style — the
    two 32-bit halves folded through two multiply/xorshift rounds mod
    2³²) and only then combined with the replicate index b, so distinct
    ids share a weight stream only on a true 32-bit hash collision
    (~B²/2³³ expected colliding pairs among B ids — unstructured and a
    2⁻³² fraction of all pairs, vs. the former id·n_boot+b seed whose
    whole congruence classes mod 2³²/n_boot were perfectly correlated).
    Pure integer arithmetic with every intermediate < 2⁶³ — ~3× cheaper
    than an md5-based hash at n_boot expansions per row (measured: the
    md5+conv form spent more time in the radix conversion than in the
    whole rest of the query), and exactly replayable in any engine with
    64-bit integer ops. Hash string ids to integers first if needed.

    ``group_col`` makes this the CLUSTER (grouped) bootstrap: the
    Poisson weight is drawn from the GROUP id, so a group's rows are
    resampled together — the correct CI when rows within a group are
    correlated (a user's events, a crawl host's documents); the
    row-level bootstrap UNDERSTATES the variance of grouped data
    because it treats within-group copies as independent information
    (Field & Welsh 2007). Same integral-id contract applies to the
    group id; rows with a NULL group are dropped.

    ``keys`` gives a PER-SEGMENT CI panel in the same single scan — one
    (keys…, n, mean, boot_lo, boot_median, boot_hi, n_boot) row per key
    tuple, every aggregation key-partitioned (replicates group by
    (keys, b); quantiles group by keys over the bounded n_boot-row
    relation per key). Rows with a NULL key are dropped.
    """
    from pyspark.sql.types import IntegralType

    if not (0.0 < alpha < 1.0):
        raise ValueError(f"poisson_bootstrap_ci: need 0 < alpha < 1, got {alpha}")
    hash_col = group_col if group_col is not None else id_col
    if not isinstance(df.schema[hash_col].dataType, IntegralType):
        raise ValueError(
            f"poisson_bootstrap_ci: {hash_col!r} must be integral "
            "(the portable mixer is integer arithmetic) — hash string ids "
            "to integers first"
        )
    keys = list(keys or [])
    x = F.col(value_col).cast("double")
    cond = (
        F.col(value_col).isNotNull()
        & ~F.isnan(x)
        & F.col(hash_col).isNotNull()
    )
    for k in keys:
        cond = cond & F.col(k).isNotNull()
    base = df.where(cond).select(
        *keys, F.col(hash_col).cast("bigint").alias("__i"), x.alias("__x")
    )
    ex = base.select(
        *keys,
        "__i",
        "__x",
        F.explode(F.sequence(F.lit(0), F.lit(int(n_boot) - 1))).alias("__b"),
    )
    # Premix the 64-bit id, THEN fold in b, THEN diffuse. Both halves of
    # the id enter the state (lo = id mod 2^32, hi = id >> 32), each
    # multiplier is < 2^31 and each multiplicand < 2^32, so every
    # product stays under 2^63 — no int64 overflow in ANSI engines for
    # ANY non-negative 64-bit id. Without the premix, ids congruent mod
    # 2^32/n_boot got identical u for EVERY replicate (perfectly
    # correlated weight streams); after it, correlated pairs are plain
    # 32-bit hash collisions (a 2^-32 fraction, unstructured).
    m32 = F.lit(4294967296)
    lo = F.pmod(F.col("__i"), m32)
    hi = F.shiftright(F.col("__i"), 32)
    p1 = F.pmod(lo * F.lit(1103515245) + hi * F.lit(1597334677) + F.lit(12345), m32)
    p2 = p1.bitwiseXOR(F.shiftright(p1, 16))
    p3 = F.pmod(p2 * F.lit(1597334677) + hi, m32)
    p4 = p3.bitwiseXOR(F.shiftright(p3, 13))
    seed = F.pmod(p4 + (F.col("__b") + F.lit(1)) * F.lit(1046527), m32)
    h1 = (seed * F.lit(1103515245) + F.lit(12345)) % m32
    h2 = h1.bitwiseXOR(F.shiftright(h1, 16))
    h3 = (h2 * F.lit(1597334677)) % m32
    h4 = h3.bitwiseXOR(F.shiftright(h3, 16))
    u = h4 / F.lit(4294967296.0)
    w = F.lit(len(_POISSON1_CDF))
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    reps = (
        ex.select(
            *keys, "__b", (w * F.col("__x")).alias("__wx"), w.alias("__w")
        )
        .groupBy(*keys, "__b")
        .agg(
            (F.sum("__wx") / F.sum("__w")).alias("mean_b"),
        )
        .where(F.col("mean_b").isNotNull())
    )
    lo_q, hi_q = alpha / 2.0, 1.0 - alpha / 2.0
    ci_aggs = [
        F.expr(f"percentile(mean_b, {lo_q!r})").alias("boot_lo"),
        F.expr("percentile(mean_b, 0.5)").alias("boot_median"),
        F.expr(f"percentile(mean_b, {hi_q!r})").alias("boot_hi"),
    ]
    overall_aggs = [
        F.count(F.lit(1)).alias("n"), F.avg("__x").alias("mean")
    ]
    if keys:
        ci = reps.groupBy(*keys).agg(*ci_aggs)
        joined = base.groupBy(*keys).agg(*overall_aggs).join(ci, keys)
    else:
        ci = reps.agg(*ci_aggs)
        joined = base.agg(*overall_aggs).join(F.broadcast(ci), F.lit(True))
    return joined.select(
        *keys,
        "n",
        "mean",
        "boot_lo",
        "boot_median",
        "boot_hi",
        F.lit(int(n_boot)).alias("n_boot"),
    )


def isotonic_calibration(
    df: DataFrame,
    score: str,
    label: str,
    bins: int = 32,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Isotonic (PAV) calibration of a score against a binary label over
    a frozen equi-width score grid — the non-parametric recalibration
    that fixes what :func:`calibration_curve` diagnoses: per occupied
    bin, the empirical positive rate and the pooled-adjacent-violators
    fit (the unique nondecreasing weighted-L2 projection, Ayer et al.
    1955). Returns (bin, n, mean_score, frac_pos, calibrated);
    ``calibrated`` is the monotone score→probability map a deployment
    applies at serving time.

    Scale shape: ONE aggregation to ≤``bins`` cells; PAV runs
    driver-side over that bounded relation with EXACT integer sums
    (pooling decisions by cross-multiplication, pooled rates as one
    int/int division), so the result is bit-identical to the
    max-min formula iso_i = max_{j≤i} min_{k≥i} A(j,k) any SQL engine
    computes over the same cells.
    """
    from dataquality_ml_spark.operators.profile import _valid

    w = (float(hi) - float(lo)) / bins
    raw = F.floor((F.col(score) - F.lit(float(lo))) / F.lit(w)).cast("int")
    b = F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw))
    y = F.col(label).cast("boolean")
    # _valid (non-null AND non-NaN) on BOTH columns: a NaN score would
    # pass a bare isNotNull, floor(NaN) clamps into bin 0 and its NaN
    # value poisons that bin's ss sum.
    cells = (
        df.where(_valid(df, score) & _valid(df, label))
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(y, 1)).alias("np"),
            F.sum(F.col(score).cast("double")).alias("ss"),
        )
        .orderBy("bin")
        .collect()
    )
    spark = df.sparkSession
    schema = (
        "bin int, n bigint, mean_score double, frac_pos double, "
        "calibrated double"
    )
    if not cells:
        return local_frame(spark, [], schema)
    # PAV with exact integer block sums: pool while the previous block's
    # rate exceeds the current's (cross-multiplied — no float compare)
    blocks: list[list[int]] = []  # [n, np, first_cell_idx]
    for idx, r in enumerate(cells):
        blocks.append([int(r["n"]), int(r["np"]), idx])
        while len(blocks) >= 2 and (
            blocks[-2][1] * blocks[-1][0] > blocks[-1][1] * blocks[-2][0]
        ):
            n2, p2, i2 = blocks.pop()
            blocks[-1][0] += n2
            blocks[-1][1] += p2
    fit = [0.0] * len(cells)
    for bi, (bn, bp, first) in enumerate(blocks):
        end = blocks[bi + 1][2] if bi + 1 < len(blocks) else len(cells)
        val = bp / bn
        for i in range(first, end):
            fit[i] = val
    return local_frame(
        spark,
        [
            (
                int(r["bin"]),
                int(r["n"]),
                float(r["ss"]) / int(r["n"]),
                int(r["np"]) / int(r["n"]),
                fit[i],
            )
            for i, r in enumerate(cells)
        ],
        schema,
    )


def anova_oneway(
    df: DataFrame, group_col: str, value_col: str = "value"
) -> DataFrame:
    """One-way ANOVA F test across groups (Fisher) — "does the metric's
    MEAN differ across segments at all?", the omnibus gate that belongs
    in front of pairwise drift tests (k segments give k(k-1)/2 pairwise
    comparisons and a multiple-testing problem; one F statistic answers
    the aggregate question first). Returns one row
    (n, n_groups, f_stat, df1, df2, eta_sq) — eta² = SSB/SST is the
    variance-explained effect size the F value alone hides.

    Shape: ONE grouped aggregation to the bounded per-group relation
    (n_k, Σx, Σx²), one reduce over it; SSB/SSW via the closed forms
    SSB = Σ s_k²/n_k − S²/N, SSW = Σ ss_k − Σ s_k²/n_k — no second
    data pass. Loud contract: raises on < 2 groups or zero within-group
    degrees of freedom (N == g), where F is undefined.
    """
    valid = df.where(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col))
        & F.col(group_col).isNotNull()
    )
    cells = valid.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_k"),
        F.sum(value_col).alias("s_k"),
        F.sum(F.col(value_col) * F.col(value_col)).alias("ss_k"),
    )
    agg = cells.agg(
        F.sum("n_k").alias("N"),
        F.count(F.lit(1)).alias("g"),
        F.sum("s_k").alias("S"),
        F.sum("ss_k").alias("SS"),
        F.sum(F.col("s_k") * F.col("s_k") / F.col("n_k")).alias("A"),
    ).localCheckpoint(eager=False)
    # ^ the loud-contract first() materializes the 1-row agg; without the
    #   checkpoint the returned select() re-ran scan + both aggs at collect
    row = agg.first()
    if row["g"] is None or row["g"] < 2:
        raise ValueError(
            f"anova_oneway: need >= 2 groups with data, got {row['g'] or 0}"
        )
    if row["N"] <= row["g"]:
        raise ValueError(
            "anova_oneway: zero within-group degrees of freedom "
            f"(N={row['N']}, groups={row['g']}) — F is undefined"
        )
    ssb = F.col("A") - F.col("S") * F.col("S") / F.col("N")
    ssw = F.col("SS") - F.col("A")
    sst = F.col("SS") - F.col("S") * F.col("S") / F.col("N")
    df1 = (F.col("g") - 1).cast("bigint")
    df2 = (F.col("N") - F.col("g")).cast("bigint")
    return agg.select(
        F.col("N").alias("n"),
        F.col("g").alias("n_groups"),
        ((ssb / df1) / (ssw / df2)).alias("f_stat"),
        df1.alias("df1"),
        df2.alias("df2"),
        (ssb / sst).alias("eta_sq"),
    )


def kruskal_wallis(
    df: DataFrame, group_col: str, value_col: str = "value"
) -> DataFrame:
    """Kruskal-Wallis H test (1952) — the rank-based omnibus companion
    to :func:`anova_oneway`: "do the segment DISTRIBUTIONS differ?"
    without the normality/equal-variance assumptions F needs, robust to
    the heavy tails real metric columns have. Midranks for ties, with
    the standard tie correction C = 1 − Σ(t³−t)/(N³−N); H/C is χ²(g−1)
    under H₀. Returns one row
    (n, n_groups, df1, h_stat, tie_correction, h_adj).

    Scale shape — NO global sort and NO unpartitioned window: midranks
    come from the DISTRIBUTED exclusive prefix sum over the distinct-
    value relation (midrank(v) = #smaller + (ties+1)/2 — the Gini
    ranking engine, relational.exclusive_prefix_sum), joined back to
    per-(group, value) counts; everything after is two bounded
    aggregations. Loud contracts: < 2 groups, zero between-group dof,
    or ALL values tied (C = 0, H undefined) raise.
    """
    from dataquality_ml_spark.operators.relational import exclusive_prefix_sum

    valid = df.where(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col))
        & F.col(group_col).isNotNull()
    ).select(F.col(group_col).alias("k"), F.col(value_col).alias("v"))
    vals = valid.groupBy("v").agg(F.count(F.lit(1)).alias("t"))
    ranked = exclusive_prefix_sum(vals, "v", "t", out="cl")
    mid = F.col("cl") + (F.col("t") + 1) / F.lit(2.0)
    cells = valid.groupBy("k", "v").agg(F.count(F.lit(1)).alias("n_kv"))
    gk = (
        cells.join(ranked.select("v", mid.alias("mid")), "v")
        .groupBy("k")
        .agg(
            F.sum("n_kv").alias("n_k"),
            F.sum(F.col("n_kv") * F.col("mid")).alias("rk"),
        )
    )
    # tie sum reads the prefix-sum OUTPUT (checkpoint-backed) rather than
    # re-aggregating ``vals`` — which would re-run the upstream scan +
    # distinct-value groupBy a second time
    tie = ranked.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("t3")
    )
    tot = gk.agg(
        F.sum("n_k").alias("N"),
        F.count(F.lit(1)).alias("g"),
        F.sum(F.col("rk") * F.col("rk") / F.col("n_k")).alias("s"),
    ).crossJoin(tie).localCheckpoint(eager=False)
    # ^ the loud-contract first() below materializes this 1-row relation;
    #   without the checkpoint the returned select() re-ran the whole
    #   rank/join/agg pipeline a second time at collect
    row = tot.first()
    if row["g"] is None or row["g"] < 2:
        raise ValueError(
            f"kruskal_wallis: need >= 2 groups with data, got {row['g'] or 0}"
        )
    n, t3 = row["N"], row["t3"]
    if t3 == n * n * n - n:
        raise ValueError(
            "kruskal_wallis: all values tied — H is undefined (tie "
            "correction is 0)"
        )
    h = (
        F.lit(12.0) / (F.col("N") * (F.col("N") + 1)) * F.col("s")
        - 3 * (F.col("N") + 1)
    )
    c = F.lit(1.0) - F.col("t3") / (
        F.col("N") * F.col("N") * F.col("N") - F.col("N")
    )
    return tot.select(
        F.col("N").alias("n"),
        F.col("g").alias("n_groups"),
        (F.col("g") - 1).cast("bigint").alias("df1"),
        h.alias("h_stat"),
        c.alias("tie_correction"),
        (h / c).alias("h_adj"),
    )


def fdr_bh(df: DataFrame, p_col: str = "p_value", m: int | None = None) -> DataFrame:
    """Benjamini-Hochberg step-up FDR adjustment (1995) over a TEST
    PANEL — the multiple-testing closer for the per-segment drift
    families: a panel of k segments tested at α has ~k·α false alarms;
    BH q-values bound the expected FALSE DISCOVERY fraction instead.
    Adds ``q_value`` = min_{j≥rank} p_(j)·m/j clamped to 1 — monotone,
    tie-invariant (equal p always get equal q, whatever order ties
    land in, because the reverse running min spans the whole tie
    group's candidates).

    PANEL-BOUNDED CONTRACT: the input is one row per TEST
    (segment/feature/metric), not per data row — both windows order
    the whole relation (rank by p, reverse running min by rank), the
    same documented bounded-window class as the ≤bins faces. ``m``
    defaults to the panel row count; pass it explicitly when the panel
    was pre-filtered (BH's m is the number of tests RUN, not kept).
    """
    from pyspark.sql import Window

    mm = int(m) if m is not None else df.count()
    if mm < 1:
        raise ValueError(f"fdr_bh: need >= 1 test, got m={mm}")
    ranked = df.withColumn(
        "__j", F.row_number().over(Window.orderBy(F.col(p_col).asc()))
    )
    wmin = Window.orderBy(F.col("__j").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    q = F.least(
        F.lit(1.0),
        F.min(F.col(p_col) * F.lit(float(mm)) / F.col("__j")).over(wmin),
    )
    return ranked.withColumn("q_value", q).drop("__j")


def welch_t_matrix(
    df: DataFrame,
    key_col: str,
    value_col: str = "value",
    max_keys: int = 1000,
) -> DataFrame:
    """Pairwise Welch t matrix across segments — the MEAN-focused
    companion to the binned-KS distance matrix: for every unordered
    segment pair, the unequal-variance t statistic, its
    Welch–Satterthwaite degrees of freedom, and Cohen's d effect size
    (the magnitude the t value alone hides at big n — at 10⁸ rows per
    segment everything is "significant"; d says whether anyone should
    care). Returns (key_a, key_b, n_a, n_b, mean_diff, t_stat,
    df_welch, cohens_d).

    Shape + contract: ONE grouped aggregation to the bounded per-key
    (n, mean, var) relation; the pair join is an explicit-broadcast
    nested loop over that bounded relation (the theil_sen convention —
    never a CartesianProduct), k(k−1)/2 rows, with the loud
    ``max_keys`` pre-check since the matrix is quadratic by
    definition. Degenerate pairs (a segment with n < 2 or both
    variances 0) get NULL t/df.
    """
    valid = df.where(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col))
        & F.col(key_col).isNotNull()
    )
    cells = valid.groupBy(F.col(key_col).alias("__k")).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(value_col).alias("m"),
        F.var_samp(value_col).alias("v"),
    ).localCheckpoint(eager=False)
    # the max_keys pre-check counts the CELLS relation the matrix is built
    # from (exact, one row per key) instead of a separate
    # approx_count_distinct scan over the raw rows — one pass, not two,
    # and both pair-join branches read the materialized cells
    nk = cells.count()
    if nk and nk > max_keys:
        raise ValueError(
            f"welch_t_matrix: {nk} distinct {key_col!r} values exceed "
            f"max_keys={max_keys} — the matrix is k(k-1)/2 pairs; "
            "aggregate the key first or raise max_keys deliberately"
        )
    a = cells.select(
        F.col("__k").alias("key_a"),
        F.col("n").alias("n_a"),
        F.col("m").alias("m_a"),
        F.col("v").alias("v_a"),
    )
    b = cells.select(
        F.col("__k").alias("key_b"),
        F.col("n").alias("n_b"),
        F.col("m").alias("m_b"),
        F.col("v").alias("v_b"),
    )
    j = a.join(F.broadcast(b), F.col("key_a") < F.col("key_b"))
    sa = F.col("v_a") / F.col("n_a")
    sb = F.col("v_b") / F.col("n_b")
    se2 = sa + sb
    t = F.when(se2 > 0, (F.col("m_a") - F.col("m_b")) / F.sqrt(se2))
    dfw = F.when(
        (se2 > 0) & (F.col("n_a") > 1) & (F.col("n_b") > 1),
        (se2 * se2)
        / (
            sa * sa / (F.col("n_a") - 1)
            + sb * sb / (F.col("n_b") - 1)
        ),
    )
    sp = F.sqrt(
        (
            (F.col("n_a") - 1) * F.col("v_a")
            + (F.col("n_b") - 1) * F.col("v_b")
        )
        / (F.col("n_a") + F.col("n_b") - 2)
    )
    d = F.when(sp > 0, (F.col("m_a") - F.col("m_b")) / sp)
    return j.select(
        "key_a",
        "key_b",
        "n_a",
        "n_b",
        (F.col("m_a") - F.col("m_b")).alias("mean_diff"),
        t.alias("t_stat"),
        dfw.alias("df_welch"),
        d.alias("cohens_d"),
    ).orderBy("key_a", "key_b")
