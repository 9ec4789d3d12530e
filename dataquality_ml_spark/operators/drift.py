"""Distribution-drift operators: PSI, two-sample KS / Cramér–von Mises /
Mann–Whitney rank-sum, Q-Q drift table, chi-square, mutual information.

The reference retrains and re-evaluates daily snapshots but never tests
whether today's data still looks like the training data (its only guard is
the threshold refit, reference app/test_AE.py:87-97). Drift checks are the
standard production answer, and at 100 TB they must be aggregation-shaped:
every operator here reduces the input to O(bins) or O(categories) rows in
ONE scan per side before any driver-side math — no sorts of raw rows, no
collect of row data.

- ``psi_bins``: Population Stability Index over fixed equi-width bins.
  Fixed (lo, hi) edges make the result deterministic and engine-portable
  (no data-dependent quantile edges), and mean the whole computation is a
  single groupBy per side over a clamped ``floor((x-lo)/w)`` bucket id.
- ``ks_statistic``: exact two-sample Kolmogorov-Smirnov D. Pre-aggregates
  to one row per distinct value (groupBy), then takes the running-CDF
  difference with a global-order window over those GROUPED rows — the
  window sees |distinct values| rows, not |rows|. For truly unbounded
  domains use ``bins=`` (binned KS): O(bins) rows, sketch-mergeable, the
  100 TB path (D error ≤ bin probability mass).
- ``chi2_independence``: chi-square statistic of independence between two
  categorical columns from the (a, b) contingency counts — one groupBy,
  margins derived with window sums (no second scan).
- ``cvm_statistic`` / ``rank_sum_test`` / ``qq_table`` (round 8): the
  body-shift, rank-based, and localized complements to KS — all on the
  same grouped-distinct-value + distributed-prefix-sum machinery
  (``_ecdf_counts``), so none of them funnels a row-sized relation
  through one task.
- ``mutual_information``: scale-free dependence effect size over the same
  contingency shape as chi2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataquality_ml_spark.operators.profile import _ident, _melt_sql

EPS = 1e-6  # proportion clamp so empty bins don't produce ±inf PSI terms


def _bucket(col, lo: float, hi: float, bins: int):
    """Clamped equi-width bin id in [0, bins): outside values land in the
    edge bins, so the bucket expression is total (no null branch)."""
    w = (hi - lo) / bins
    raw = F.floor((col - F.lit(lo)) / F.lit(w)).cast("int")
    return F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw))


def _bin_props(df: DataFrame, col: str, lo: float, hi: float, bins: int, out: str) -> DataFrame:
    """(bin, proportion) in one scan: groupBy the bucket id, window-sum the
    per-bin counts into a total (the window runs over ≤``bins`` rows)."""
    counts = (
        df.where(F.col(col).isNotNull())
        .groupBy(_bucket(F.col(col), lo, hi, bins).alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = Window.partitionBy()
    return counts.select("bin", (F.col("n") / F.sum("n").over(total)).alias(out))


def psi_bins(
    ref: DataFrame,
    cur: DataFrame | None,
    col: str,
    lo: float,
    hi: float,
    bins: int = 10,
    split=None,
) -> DataFrame:
    """Per-bin PSI decomposition: (bin, p_ref, p_cur, psi_term, psi_total).

    psi_term = (p_cur − p_ref)·ln(p_cur/p_ref) with both proportions
    clamped to ``EPS``; psi_total repeats the sum on every row so a single
    result relation carries both the diagnostic breakdown and the scalar
    (PSI ≳ 0.2 = significant shift, the usual industry reading).

    Cost at any scale: one scan per side → ≤2·bins rows. Missing bins are
    restored from a generated spine so both engines agree on row count.

    ``split`` (round 14, the ``feature_drift_report(split=)`` contract):
    a boolean Column over ``ref`` naming the two-sample split — ``cur``
    must then be None. ONE scan, tagged per row (1/0/NULL-dropped),
    ONE groupBy(bin) carrying both sides' counts — at 100 TB the second
    scan of the same table is pure I/O (guide §2.3/§6). Proportions are
    the same integer-count divisions, so results are bit-identical to
    the two-frame form for a null-free predicate.
    """
    if (split is not None) and cur is not None:
        raise ValueError(
            "psi_bins: pass EITHER cur (two frames) OR split (one "
            "tagged scan), not both"
        )
    if split is None and cur is None:
        raise ValueError("psi_bins: cur is required without split")
    spark = ref.sparkSession
    spine = spark.range(bins).select(F.col("id").cast("int").alias("bin"))
    if split is not None:
        counts = (
            ref.where(F.col(col).isNotNull())
            .select(
                _bucket(F.col(col), lo, hi, bins).alias("bin"),
                F.when(split, 1).when(~split, 0).alias("in_r"),
            )
            .where(F.col("in_r").isNotNull())
            .groupBy("bin")
            .agg(
                F.sum("in_r").alias("n_r"),
                F.sum(1 - F.col("in_r")).alias("n_c"),
            )
        )
        # per-side proportions over the same ≤bins-row relation; the
        # when() guards keep an entirely-empty side at p=0 instead of a
        # division by zero (unreachable in the two-frame form only
        # because an empty side contributes no rows at all there)
        tot = Window.partitionBy()
        tot_r, tot_c = F.sum("n_r").over(tot), F.sum("n_c").over(tot)
        joined = spine.join(
            counts.select(
                "bin",
                F.when(tot_r > 0, F.col("n_r") / tot_r)
                .otherwise(F.lit(0.0))
                .alias("p_ref"),
                F.when(tot_c > 0, F.col("n_c") / tot_c)
                .otherwise(F.lit(0.0))
                .alias("p_cur"),
            ),
            "bin",
            "left",
        ).select(
            "bin",
            F.coalesce("p_ref", F.lit(0.0)).alias("p_ref"),
            F.coalesce("p_cur", F.lit(0.0)).alias("p_cur"),
        )
    else:
        r = _bin_props(ref, col, lo, hi, bins, "p_ref")
        c = _bin_props(cur, col, lo, hi, bins, "p_cur")
        joined = (
            spine.join(r, "bin", "left")
            .join(c, "bin", "left")
            .select(
                "bin",
                F.coalesce("p_ref", F.lit(0.0)).alias("p_ref"),
                F.coalesce("p_cur", F.lit(0.0)).alias("p_cur"),
            )
        )
    pr = F.greatest(F.col("p_ref"), F.lit(EPS))
    pc = F.greatest(F.col("p_cur"), F.lit(EPS))
    term = (pc - pr) * F.log(pc / pr)
    w = Window.partitionBy()
    return (
        joined.withColumn("psi_term", term)
        .withColumn("psi_total", F.sum("psi_term").over(w))
        .orderBy("bin")
    )


def _ecdf_counts(
    a: DataFrame,
    b: DataFrame,
    col: str,
    bins: int | None = None,
    lo: float | None = None,
    hi: float | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """Shared ECDF machinery for the two-sample tests (KS, CvM, rank-sum):
    one row per distinct pooled value/bucket carrying per-side counts
    (n_a, n_b), INCLUSIVE running counts (ca, cb), and the side totals
    (tot_a, tot_b) joined back from a per-group aggregate.

    Exact mode (``bins=None``): the running counts ride ONE
    ``exclusive_prefix_sum`` pass (round 8 — for continuous columns
    |distinct| ≈ |rows|, so an unpartitioned ``Window.orderBy(v)``
    cumulative here was the VERDICT r7 item 1 funnel).

    Binned mode: a bounded window over ``_bucket`` ids — O(bins) rows by
    a constant knob, no decomposition needed.

    ``keys``: per-SEGMENT two-sample tests in the same single pass — the
    prefix sums restart per key (``exclusive_prefix_sum(keys=...)``), the
    binned window partitions on the keys, and the totals join on them.
    Parallelism GROWS with segment count; nothing funnels.
    """
    keys = list(keys or [])
    key = _bucket(F.col(col), lo, hi, bins) if bins else F.col(col)
    a = a.where(F.col(col).isNotNull())
    b = b.where(F.col(col).isNotNull())
    tagged = a.select(*keys, key.alias("v"), F.lit(1).alias("in_a")).unionAll(
        b.select(*keys, key.alias("v"), F.lit(0).alias("in_a"))
    )
    return _ecdf_from_tagged(tagged, keys, bounded=bool(bins))


def _ecdf_from_tagged(
    tagged: DataFrame, keys: list[str], bounded: bool
) -> DataFrame:
    """ECDF build over a PRE-TAGGED (``*keys``, v, in_a) relation — the
    shared back half of :func:`_ecdf_counts`, exposed so single-scan
    callers (``feature_drift_report(split=)``) can tag one scan instead
    of unioning two filtered scans of the same source (guide §2.3/§6:
    at 100 TB the second scan is the cost). ``bounded=True`` selects the
    bounded-window path (correct whenever |distinct v| is bounded by a
    knob — bucket ids); ``bounded=False`` the distributed prefix-sum
    decomposition. Both produce identical integer ca/cb/tot columns."""
    per_v = tagged.groupBy(*keys, "v").agg(
        F.sum("in_a").alias("n_a"),
        F.sum(1 - F.col("in_a")).alias("n_b"),
    )
    if bounded:
        # Bounded bucket relation: the side totals ride the SAME keyed
        # window pass as the running counts (full-frame sum over the
        # identical partitioning — one exchange, zero joins), instead of
        # re-aggregating the upstream melt/scan a second time just to
        # attach tot_a/tot_b (the pre-round-13 shape paid the whole
        # upstream twice; guide §2.4).
        run = (
            Window.partitionBy(*keys)
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        full = Window.partitionBy(*keys).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        return per_v.select(
            *keys,
            "v",
            "n_a",
            "n_b",
            F.sum("n_a").over(run).alias("ca"),
            F.sum("n_b").over(run).alias("cb"),
            F.sum("n_a").over(full).alias("tot_a"),
            F.sum("n_b").over(full).alias("tot_b"),
        )
    from dataquality_ml_spark.operators.relational import (
        exclusive_prefix_sum,
    )

    # Exact mode: the decomposition's driver-side subtotal collect already
    # holds the per-key grand totals — read them back (with_totals) rather
    # than re-running the whole upstream scan + union + groupBy for a
    # tots aggregation (the pre-round-13 shape computed the melted
    # relation twice per panel; guide §1.2/§2.4).
    cum, tot_map = exclusive_prefix_sum(
        per_v,
        "v",
        ["n_a", "n_b"],
        out=["_ba", "_bb"],
        keys=keys or None,
        with_totals=True,
    )
    cum = cum.select(
        *keys,
        "v",
        "n_a",
        "n_b",
        (F.col("_ba") + F.col("n_a")).alias("ca"),
        (F.col("_bb") + F.col("n_b")).alias("cb"),
    )
    if keys:
        # eqNullSafe, not a plain equi-join: a NULL-keyed segment is a
        # real group (GROUP BY semantics on both engines keep it), and a
        # plain join would silently drop it — round-8 bug class.
        key_schema = ", ".join(
            f"__t_{k} {per_v.schema[k].dataType.simpleString()}" for k in keys
        )
        tots = per_v.sparkSession.createDataFrame(
            [(*kt, int(v[0]), int(v[1])) for kt, v in tot_map.items()],
            f"{key_schema}, tot_a bigint, tot_b bigint",
        )
        cond = None
        for k in keys:
            c = F.col(k).eqNullSafe(F.col(f"__t_{k}"))
            cond = c if cond is None else (cond & c)
        return cum.join(F.broadcast(tots), cond).drop(
            *[f"__t_{k}" for k in keys]
        )
    ta, tb = tot_map.get((), [0, 0])
    return cum.select(
        "*",
        F.lit(int(ta)).cast("bigint").alias("tot_a"),
        F.lit(int(tb)).cast("bigint").alias("tot_b"),
    )


def ks_statistic(
    a: DataFrame,
    b: DataFrame,
    col: str,
    bins: int | None = None,
    lo: float | None = None,
    hi: float | None = None,
    ecdf: DataFrame | None = None,
) -> DataFrame:
    """Two-sample KS distance as a 1-row DataFrame (ks_d, n_a, n_b).

    D = max |F_a − F_b| evaluated at every distinct pooled value (ECDFs
    only change there, so this is the true supremum); running CDFs via
    ``_ecdf_counts`` — distributed prefix sums in exact mode, a bounded
    bucket window in binned mode (the 100 TB path, D error ≤ bin mass).

    ``ecdf``: a prebuilt (possibly checkpoint-memoized) ``_ecdf_counts``
    relation — the four two-sample statistics read the SAME relation, so
    a caller computing several of them should build it once and pass it
    to each (``a``/``b``/``col`` are then ignored).
    """
    cdf = (ecdf if ecdf is not None else _ecdf_counts(a, b, col, bins, lo, hi)).select(
        (F.col("ca") / F.col("tot_a")).alias("cdf_a"),
        (F.col("cb") / F.col("tot_b")).alias("cdf_b"),
        "tot_a",
        "tot_b",
    )
    return cdf.agg(
        F.max(F.abs(F.col("cdf_a") - F.col("cdf_b"))).alias("ks_d"),
        F.max("tot_a").alias("n_a"),
        F.max("tot_b").alias("n_b"),
    )


def ks_by_group(
    a: DataFrame,
    b: DataFrame,
    col: str,
    keys: list[str],
    bins: int | None = None,
    lo: float | None = None,
    hi: float | None = None,
    ecdf: DataFrame | None = None,
) -> DataFrame:
    """Per-segment two-sample KS in ONE pass: (``*keys``, ks_d, n_a, n_b),
    one row per key combination present on either side.

    The production drift question is rarely global — it's "which SEGMENT
    drifted" (per source, per event type, per tenant). Running the
    1-sample operator per segment is the reference's 40-jobs-per-profile
    anti-pattern (reference lib/utils.py:187-195); this keys the SAME
    ``_ecdf_counts`` machinery instead: prefix sums restart per key, the
    totals join per key, and parallelism grows with segment count.
    Segments where one side is empty yield ks_d = 1.0 by convention
    (every pooled value has |F_a − F_b| = 1 there — that, too, is drift).

    ``ecdf``: a prebuilt (possibly checkpoint-memoized) keyed
    ``_ecdf_counts`` relation — same sharing contract as the
    ``ks_statistic``/``cvm_statistic``/``drift_panel`` siblings.
    """
    cdf = (
        ecdf if ecdf is not None else _ecdf_counts(a, b, col, bins, lo, hi, keys=keys)
    ).select(
        *keys,
        F.when(F.col("tot_a") > 0, F.col("ca") / F.col("tot_a"))
        .otherwise(F.lit(0.0))
        .alias("cdf_a"),
        F.when(F.col("tot_b") > 0, F.col("cb") / F.col("tot_b"))
        .otherwise(F.lit(0.0))
        .alias("cdf_b"),
        "tot_a",
        "tot_b",
    )
    return cdf.groupBy(*keys).agg(
        F.max(F.abs(F.col("cdf_a") - F.col("cdf_b"))).alias("ks_d"),
        F.max("tot_a").alias("n_a"),
        F.max("tot_b").alias("n_b"),
    )


def cvm_statistic(
    a: DataFrame,
    b: DataFrame,
    col: str,
    bins: int | None = None,
    lo: float | None = None,
    hi: float | None = None,
    ecdf: DataFrame | None = None,
    exact: bool = True,
    keys: list[str] | None = None,
) -> DataFrame:
    """Two-sample Cramér–von Mises criterion as a 1-row DataFrame
    (cvm_t, n_a, n_b) — the integrated-squared-ECDF-gap complement to KS
    (sensitive to body shifts KS's single supremum misses; Anderson 1962
    two-sample form):

        T = n_a·n_b/N² · Σ_pooled (F_a(x) − F_b(x))²
          = Σ_v cnt_v·(ca_v·tot_b − cb_v·tot_a)² / (N²·tot_a·tot_b)

    The numerator sum runs in DECIMAL(38,0) — every term is an exact
    integer, so the reduction is order-independent and bit-identical
    across engines (the float rounding happens ONCE, casting the final
    exact sum). Same ``_ecdf_counts`` scaling story as KS.

    Decimal ceiling: a term is cnt·gap² with |gap| = |ca·tot_b − cb·tot_a|
    ≤ tot_a·tot_b ≤ (N/2)² — the bound is the POOLED ROW COUNT N, not the
    tie structure, so terms reach 10³⁸ once N ≳ ~2·10⁹ regardless of
    ``bins=`` (binning bounds the ROW count of the relation, not the
    magnitudes). Under ANSI mode (Spark 4 default) the overflow throws
    on its own; with ansi off Spark nulls the overflowing product and
    ``sum`` skips nulls, so the exact path additionally guards the
    result and RAISES instead of returning a silently-wrong statistic.
    Above ~2·10⁹ pooled rows pass
    ``exact=False`` — gaps are normalized to double CDF differences
    before squaring (order-dependent float sum, ~1 ulp per term; not
    bit-reproducible across engines but correct at any N).
    ``ecdf``: prebuilt shared relation (see ``ks_statistic``).

    ``keys``: per-SEGMENT statistics in the same single pass (the
    ``ks_by_group`` pattern — keyed prefix sums, per-key totals,
    parallelism grows with segment count; one row per key tuple).
    One-sided segments report cvm_t = NULL (T has no finite one-sided
    value; the KS face reports 1.0 there). A prebuilt ``ecdf`` must have
    been built with the same ``keys``.
    """
    keys = list(keys or [])
    ec = (
        ecdf
        if ecdf is not None
        else _ecdf_counts(a, b, col, bins, lo, hi, keys=keys or None)
    )

    def _agg(sel, *aggs):
        return sel.groupBy(*keys).agg(*aggs) if keys else sel.agg(*aggs)

    if not exact:
        # normalized-double path for N beyond the decimal ceiling:
        # T = n_a·n_b/N · Σ cnt/N · (F_a − F_b)²  with F_i = c_i/tot_i
        gap_d = F.col("ca") / F.col("tot_a") - F.col("cb") / F.col("tot_b")
        cnt_d = (F.col("n_a") + F.col("n_b")).cast("double")
        agg = _agg(
            ec.select(
                *keys, (cnt_d * gap_d * gap_d).alias("s_term"), "tot_a", "tot_b"
            ),
            F.sum("s_term").alias("s"),
            F.max("tot_a").alias("n_a"),
            F.max("tot_b").alias("n_b"),
        )
        nn = (F.col("n_a") + F.col("n_b")).cast("double")
        return agg.select(
            *keys,
            (F.col("n_a") * F.col("n_b") / (nn * nn) * F.col("s")).alias(
                "cvm_t"
            ),
            "n_a",
            "n_b",
        )
    # decimal BEFORE any product: the raw bigint products (ca·tot_b,
    # N²·tot_a·tot_b) overflow int64 well before 100 TB row counts
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    gap = dec(F.col("ca")) * F.col("tot_b") - dec(F.col("cb")) * F.col("tot_a")
    n = dec(F.col("tot_a") + F.col("tot_b"))
    term = dec(F.col("n_a") + F.col("n_b")) * gap * gap
    agg = _agg(
        ec.select(
            *keys,
            term.alias("s_term"),
            (n * n * F.col("tot_a") * F.col("tot_b")).alias("denom"),
            "tot_a",
            "tot_b",
        ),
        F.sum("s_term").alias("s"),
        F.max("denom").alias("denom"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count("s_term").alias("n_terms"),
        F.count("denom").alias("n_denoms"),
        F.max("tot_a").alias("n_a"),
        F.max("tot_b").alias("n_b"),
    )
    # fail LOUDLY on decimal overflow instead of returning a
    # silently-wrong statistic. Under ansi-off an overflowing
    # DECIMAL(38,0) term becomes NULL and F.sum SKIPS it — if only some
    # rows overflow (typical: mid-distribution gaps overflow, edge gaps
    # don't) the sum stays non-null but wrong, so a null-check on the
    # sum alone is not enough: compare row count to non-null term count
    # in the same agg. Empty input (n_a null) is a legitimate null
    # result, not an overflow.
    ok = (
        F.col("s").isNotNull()
        & F.col("denom").isNotNull()
        & (F.col("n_terms") == F.col("n_rows"))
        & (F.col("n_denoms") == F.col("n_rows"))
    ) | F.col("n_a").isNull()
    # one-sided segments (keyed mode): denom == 0 — report null, not a
    # division artifact (the KS face reports 1.0 there; CvM's T has no
    # finite one-sided value)
    val = F.when(
        F.col("denom") == 0, F.lit(None).cast("double")
    ).otherwise(F.col("s").cast("double") / F.col("denom").cast("double"))
    return agg.select(
        *keys,
        F.when(ok, val)
        .otherwise(
            F.raise_error(
                F.lit(
                    "cvm_statistic exact path: DECIMAL(38,0) overflow — "
                    "pooled n exceeds the ~2e9-row exact ceiling; rerun "
                    "with exact=False (normalized double gaps)"
                )
            )
        )
        .alias("cvm_t"),
        "n_a",
        "n_b",
    )


def rank_sum_test(
    a: DataFrame,
    b: DataFrame,
    col: str,
    ecdf: DataFrame | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) two-sample test as a 1-row
    DataFrame (u_stat, z_score, n_a, n_b) — the rank-based drift test
    that is distribution-free and robust to outliers where PSI/KS react
    to binning and tails.

    Pooled midranks come from the grouped distinct-value relation:
    midrank(v) = rows_strictly_below(v) + (ties+1)/2, with the
    strictly-below count a distributed ``exclusive_prefix_sum`` (the
    spearman_qty_price machinery — no unpartitioned window at any
    distinct-value cardinality). Then

        U  = Σ_v n_a(v)·midrank(v) − n_a·(n_a+1)/2
        μ  = n_a·n_b/2
        σ² = n_a·n_b/12 · ((N+1) − Σ_v(t_v³−t_v)/(N·(N−1)))   (tie-corrected)
        z  = (U − μ)/σ      (no continuity correction)

    Every midrank is a multiple of 0.5 and every tie term an exact
    integer, so the sums are order-independent IEEE-exact below 2⁵³ —
    both engines reduce to bit-identical U and tie sums before the one
    float expression for z. ``ecdf``: prebuilt shared relation (see
    ``ks_statistic``).

    ``keys``: per-SEGMENT tests in the same single pass (the
    ``ks_by_group`` pattern — the keyed ``_ecdf_counts`` restarts the
    pooled prefix per key, so midranks are per-segment by construction;
    one row per key tuple, parallelism grows with segment count).
    One-sided or constant segments have σ = 0 and report z_score = NULL.
    A prebuilt ``ecdf`` must have been built with the same ``keys``.
    """
    keys = list(keys or [])
    ec = (
        ecdf
        if ecdf is not None
        else _ecdf_counts(a, b, col, keys=keys or None)
    )
    cnt = F.col("n_a") + F.col("n_b")
    below = F.col("ca") + F.col("cb") - cnt  # exclusive pooled prefix
    mr = below + (cnt + F.lit(1)) / F.lit(2.0)
    sel = ec.select(
        *keys,
        (F.col("n_a") * mr).alias("ra_term"),
        (cnt * cnt * cnt - cnt).alias("tie_term"),
        "tot_a",
        "tot_b",
    )
    aggs = [
        F.sum("ra_term").alias("ra"),
        F.sum("tie_term").cast("double").alias("ties"),
        F.max("tot_a").cast("double").alias("na"),
        F.max("tot_b").cast("double").alias("nb"),
    ]
    agg = sel.groupBy(*keys).agg(*aggs) if keys else sel.agg(*aggs)
    n = F.col("na") + F.col("nb")
    u = F.col("ra") - F.col("na") * (F.col("na") + 1) / 2
    mu = F.col("na") * F.col("nb") / 2
    var = (
        F.col("na")
        * F.col("nb")
        / 12
        * ((n + 1) - F.col("ties") / (n * (n - 1)))
    )
    return agg.select(
        *keys,
        u.alias("u_stat"),
        # NaN > 0 is TRUE under Spark's NaN-greatest ordering, so the
        # n==1 guard must be explicit, not folded into var > 0
        F.when(
            (F.col("na") > 0) & (F.col("nb") > 0) & (var > 0),
            (u - mu) / F.sqrt(var),
        ).alias("z_score"),
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
    )


def anderson_darling(
    a: DataFrame,
    b: DataFrame,
    col: str,
    bins: int | None = None,
    lo: float | None = None,
    hi: float | None = None,
    ecdf: DataFrame | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """Two-sample Anderson–Darling statistic as a 1-row DataFrame
    (ad_a2, n_a, n_b) — the tail-weighted ECDF test (AD up-weights the
    distribution tails by 1/(F(1−F)) where KS/CvM are body-dominated;
    it is the standard alarm for tail drift in score distributions).

    Tie-aware midrank version (Scholz & Stephens 1987, A²_akN with
    k = 2 — the same form scipy's ``anderson_ksamp`` computes):

        A² = (N−1)/N · Σ_i 1/n_i · Σ_j (l_j/N)·(N·M_aij − n_i·B_aj)²
                                        / (B_aj·(N−B_aj) − N·l_j/4)

    with per-distinct-value l_j (pooled multiplicity), M_aij (sample-i
    count ≤ z_j minus half the equal count) and B_aj (pooled count ≤ z_j
    minus l_j/2). Every input rides the shared ``_ecdf_counts`` relation
    — grouped distinct values + distributed prefix sums, so the exact
    path has no unpartitioned window at any cardinality; ``bins=`` is
    the bounded sketch path. ``ecdf``: prebuilt shared relation (see
    ``ks_statistic``).

    ``keys``: per-SEGMENT A² in the same single pass (the ``ks_by_group``
    pattern — keyed prefix sums + per-key totals; one row per key tuple).
    One-sided segments report ad_a2 = NULL (1/tot_i is undefined there).
    A prebuilt ``ecdf`` must have been built with the same ``keys``.
    """
    keys = list(keys or [])
    ec = (
        ecdf
        if ecdf is not None
        else _ecdf_counts(a, b, col, bins, lo, hi, keys=keys or None)
    )
    l = (F.col("n_a") + F.col("n_b")).cast("double")
    n = (F.col("tot_a") + F.col("tot_b")).cast("double")
    bb = (F.col("ca") + F.col("cb")).cast("double") - l / 2
    denom = bb * (n - bb) - n * l / 4
    terms = []
    for side, tot in (("a", "tot_a"), ("b", "tot_b")):
        m = F.col(f"c{side}").cast("double") - F.col(f"n_{side}") / 2
        gap = n * m - F.col(tot) * bb
        num = gap * gap  # not **2: Math.pow is ≤1ulp, x·x is exact both engines
        terms.append(
            F.sum(
                F.when(
                    (denom > 0) & (F.col(tot) > 0),
                    (l / n) * num / denom / F.col(tot),
                ).otherwise(0.0)
            )
        )
    aggs = [
        (terms[0] + terms[1]).alias("inner"),
        F.max("tot_a").alias("n_a"),
        F.max("tot_b").alias("n_b"),
    ]
    agg = ec.groupBy(*keys).agg(*aggs) if keys else ec.agg(*aggs)
    nn = (F.col("n_a") + F.col("n_b")).cast("double")
    one_sided = (F.col("n_a") == 0) | (F.col("n_b") == 0)
    return agg.select(
        *keys,
        F.when(one_sided, F.lit(None).cast("double"))
        .otherwise((nn - 1) / nn * F.col("inner"))
        .alias("ad_a2"),
        "n_a",
        "n_b",
    )


def qq_table(
    a: DataFrame,
    b: DataFrame,
    col: str,
    qs: list[float] | tuple[float, ...] = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
    ecdf: DataFrame | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """Quantile–quantile drift report: one row per probe quantile with
    both sides' EXACT linear-interpolated quantiles and the gap —
    (q, val_a, val_b, gap). WHERE a distribution moved, not just whether
    (KS/CvM give one scalar; this localizes the shift for the drift
    triage report).

    Both sides' order statistics are picked straight off the shared
    ``_ecdf_counts`` relation (round 8): value v occupies sorted index
    range [c−n, c) on each side, so every probe quantile needs only the
    floor/ceil order statistics of q·(tot−1) — a conditional aggregation
    over the distinct-value relation, with the arithmetic of
    ``percentile`` / QUANTILE_CONT bit-for-bit (lo·(1−f) + hi·f). Passing
    ``ecdf`` shares one build across the whole two-sample family; NaNs
    are assumed absent (``_ecdf_counts`` drops nulls only).

    ``keys``: per-SEGMENT Q-Q tables in the same single pass — one row
    per (key tuple, probe quantile); segments where a side is empty get
    NULL for that side's value (and gap). The side join is null-safe on
    the keys, so a NULL segment key is a real segment. A prebuilt
    ``ecdf`` must have been built with the same ``keys``.
    """
    keys = list(keys or [])
    ec = (
        ecdf
        if ecdf is not None
        else _ecdf_counts(a, b, col, keys=keys or None)
    )
    q_arr = F.array(*[F.lit(float(q)) for q in qs])

    # factory (not default-arg lambdas: PySpark derives the lambda-variable
    # count from the Python ARITY, so extra capture params break analysis)
    def _targets(n, cum, cnt):
        return F.filter(
            F.transform(
                q_arr,
                lambda q: F.struct(
                    q.alias("q"),
                    F.floor(q * (n - 1)).alias("k"),
                    (q * (n - 1) - F.floor(q * (n - 1))).alias("frac"),
                ),
            ),
            lambda s: ((s["k"] >= cum - cnt) & (s["k"] < cum))
            | ((s["k"] + 1 >= cum - cnt) & (s["k"] + 1 < cum)),
        )

    sides = []
    for side, tot in (("a", "tot_a"), ("b", "tot_b")):
        n = F.col(tot)
        cum = F.col(f"c{side}")
        cnt = F.col(f"n_{side}")
        targets = _targets(n, cum, cnt)
        tagged = ec.select(
            *keys,
            F.col("v").cast("double").alias("v"),
            (cum - cnt).alias("start"),
            cum.alias("end"),
            F.explode(targets).alias("s"),
        )
        picked = (
            tagged.groupBy(*keys, F.col("s.q").alias("q"))
            .agg(
                F.max(
                    F.when(
                        (F.col("s.k") >= F.col("start"))
                        & (F.col("s.k") < F.col("end")),
                        F.col("v"),
                    )
                ).alias("v_lo"),
                F.max(
                    F.when(
                        (F.col("s.k") + 1 >= F.col("start"))
                        & (F.col("s.k") + 1 < F.col("end")),
                        F.col("v"),
                    )
                ).alias("v_hi"),
                F.first("s.frac").alias("frac"),
            )
            .select(
                *keys,
                "q",
                F.when(
                    F.col("v_hi").isNull() | (F.col("v_hi") == F.col("v_lo")),
                    F.col("v_lo"),
                )
                .otherwise(
                    F.col("v_lo") * (1 - F.col("frac"))
                    + F.col("v_hi") * F.col("frac")
                )
                .alias(f"val_{side}"),
            )
        )
        sides.append(picked)
    if keys:
        # FULL OUTER null-safe join: a segment present on only one side
        # still appears (other side's value NULL); NULL segment keys are
        # real segments (grouped-agg semantics on both engines)
        left = sides[0]
        right = sides[1].select(
            *[F.col(k).alias(f"__r_{k}") for k in keys],
            F.col("q").alias("__r_q"),
            "val_b",
        )
        cond = F.col("q") == F.col("__r_q")
        for k in keys:
            cond = cond & F.col(k).eqNullSafe(F.col(f"__r_{k}"))
        joined = left.join(right, cond, "full_outer").select(
            *[F.coalesce(F.col(k), F.col(f"__r_{k}")).alias(k) for k in keys],
            F.coalesce(F.col("q"), F.col("__r_q")).alias("q"),
            "val_a",
            "val_b",
            (F.col("val_b") - F.col("val_a")).alias("gap"),
        )
        return joined.orderBy(*keys, "q")
    return (
        sides[0]
        .join(sides[1], "q")
        .select(
            "q",
            "val_a",
            "val_b",
            (F.col("val_b") - F.col("val_a")).alias("gap"),
        )
        .orderBy("q")
    )


def psi_categorical(ref: DataFrame, cur: DataFrame, col: str) -> DataFrame:
    """Per-CATEGORY PSI decomposition (round 9 — the categorical face of
    ``psi_bins``: language mix, source mix, event-type mix drift):
    (category, p_ref, p_cur, psi_term, psi_total) over the UNION of both
    sides' categories, EPS-clamped like the numeric face so one-sided
    categories contribute finite terms. NULL is a real category
    (null-safe full-outer category join).

    One scan per side → ≤ |categories| rows per side; the union join,
    totals, and the PSI sum all run on that bounded relation.
    """

    def _props(df: DataFrame, out: str) -> DataFrame:
        counts = df.groupBy(F.col(col).alias("category")).agg(
            F.count(F.lit(1)).alias("n")
        )
        tot = Window.partitionBy()  # ≤ |categories| rows — bounded
        return counts.select(
            "category", (F.col("n") / F.sum("n").over(tot)).alias(out)
        )

    r = _props(ref, "p_ref")
    c = _props(cur, "p_cur").select(
        F.col("category").alias("__c_cat"), "p_cur"
    )
    joined = r.join(
        c, F.col("category").eqNullSafe(F.col("__c_cat")), "full_outer"
    ).select(
        F.coalesce(F.col("category"), F.col("__c_cat")).alias("category"),
        F.coalesce("p_ref", F.lit(0.0)).alias("p_ref"),
        F.coalesce("p_cur", F.lit(0.0)).alias("p_cur"),
    )
    pr = F.greatest(F.col("p_ref"), F.lit(EPS))
    pc = F.greatest(F.col("p_cur"), F.lit(EPS))
    w = Window.partitionBy()
    return (
        joined.withColumn("psi_term", (pc - pr) * F.log(pc / pr))
        .withColumn("psi_total", F.sum("psi_term").over(w))
        .orderBy("category")
    )


def js_divergence(ref: DataFrame, cur: DataFrame, col: str) -> DataFrame:
    """Jensen-Shannon divergence (nats) between two categorical
    distributions as a 1-row DataFrame (jsd, n_ref, n_cur) — the
    bounded, symmetric drift scalar (0 ≤ JSD ≤ ln 2) that, unlike PSI,
    never explodes on one-sided categories: a category with p=0 on one
    side contributes exactly p·ln 2 on the other, no clamp needed.

        JSD = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m),   m = (p+q)/2

    Same bounded shape as ``psi_categorical``: one scan per side to
    category counts, everything after on ≤ |categories| rows. NULL is a
    real category. Terms with p=0 (or q=0) contribute 0 to their own sum
    (lim x·ln x = 0).
    """
    def _counts(df: DataFrame, out: str) -> DataFrame:
        return df.groupBy(F.col(col).alias("category")).agg(
            F.count(F.lit(1)).alias(out)
        )

    r = _counts(ref, "n_r")
    c = _counts(cur, "n_c").select(F.col("category").alias("__c_cat"), "n_c")
    joined = r.join(
        c, F.col("category").eqNullSafe(F.col("__c_cat")), "full_outer"
    ).select(
        F.coalesce("n_r", F.lit(0)).alias("n_r"),
        F.coalesce("n_c", F.lit(0)).alias("n_c"),
    )
    tot = Window.partitionBy()  # ≤ |categories| rows — bounded
    pq = joined.select(
        (F.col("n_r") / F.sum("n_r").over(tot)).alias("p"),
        (F.col("n_c") / F.sum("n_c").over(tot)).alias("q"),
        F.sum("n_r").over(tot).alias("n_ref"),
        F.sum("n_c").over(tot).alias("n_cur"),
    )
    m = (F.col("p") + F.col("q")) / 2
    term_p = F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / m)).otherwise(0.0)
    term_q = F.when(F.col("q") > 0, F.col("q") * F.log(F.col("q") / m)).otherwise(0.0)
    return pq.agg(
        ((F.sum(term_p) + F.sum(term_q)) / 2).alias("jsd"),
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
    )


def drift_panel(
    a: DataFrame,
    b: DataFrame,
    col: str,
    keys: list[str] | None = None,
    ecdf: DataFrame | None = None,
) -> DataFrame:
    """The full two-sample drift panel — KS D, Mann-Whitney U/z, CvM T,
    Anderson-Darling A² — in ONE aggregation over ONE shared
    ``_ecdf_counts`` relation: (``*keys``, ks_d, u_stat, z_score, cvm_t,
    ad_a2, n_a, n_b), one row per segment.

    Running the four operators separately re-reduces the same ECDF four
    times (cheap but not free: four shuffled aggregations); a monitoring
    pipeline that wants the whole panel per segment per day should pay
    ONE scan → ONE grouped aggregation — every statistic is a sum/max
    over the same per-distinct-value rows, so they fuse into a single
    map-side-combined pass. Each formula is shared with its standalone
    operator (same expression trees — the panel is differential-tested
    EQUAL to the four operators, not approximately).

    One-sided segments: ks_d = 1.0 (the ``ks_by_group`` convention),
    z_score/cvm_t/ad_a2 = NULL (no finite one-sided value; u_stat stays
    the raw rank sum, matching ``rank_sum_test``).
    CvM keeps the exact-decimal reduction and its overflow contract
    (raise at the ~2e9 pooled-row ceiling — see ``cvm_statistic``).
    """
    keys = list(keys or [])
    ec = (
        ecdf
        if ecdf is not None
        else _ecdf_counts(a, b, col, keys=keys or None)
    )
    # --- per-row expressions (identical to the standalone operators) ---
    cdf_a = F.when(F.col("tot_a") > 0, F.col("ca") / F.col("tot_a")).otherwise(
        F.lit(0.0)
    )
    cdf_b = F.when(F.col("tot_b") > 0, F.col("cb") / F.col("tot_b")).otherwise(
        F.lit(0.0)
    )
    cnt = F.col("n_a") + F.col("n_b")
    below = F.col("ca") + F.col("cb") - cnt
    mr = below + (cnt + F.lit(1)) / F.lit(2.0)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    gap = dec(F.col("ca")) * F.col("tot_b") - dec(F.col("cb")) * F.col("tot_a")
    nn_dec = dec(F.col("tot_a") + F.col("tot_b"))
    cvm_term = dec(cnt) * gap * gap
    cvm_denom = nn_dec * nn_dec * F.col("tot_a") * F.col("tot_b")
    l = cnt.cast("double")
    nd = (F.col("tot_a") + F.col("tot_b")).cast("double")
    bb = (F.col("ca") + F.col("cb")).cast("double") - l / 2
    ad_denom = bb * (nd - bb) - nd * l / 4
    ad_terms = []
    for side, tot in (("a", "tot_a"), ("b", "tot_b")):
        m = F.col(f"c{side}").cast("double") - F.col(f"n_{side}") / 2
        g = nd * m - F.col(tot) * bb
        ad_terms.append(
            F.sum(
                F.when(
                    (ad_denom > 0) & (F.col(tot) > 0),
                    (l / nd) * (g * g) / ad_denom / F.col(tot),
                ).otherwise(0.0)
            )
        )
    sel = ec.select(
        *keys, "n_a", "n_b", "ca", "cb", "tot_a", "tot_b"
    )
    aggs = [
        F.max(F.abs(cdf_a - cdf_b)).alias("ks_d"),
        F.sum(F.col("n_a") * mr).alias("ra"),
        F.sum(cnt * cnt * cnt - cnt).cast("double").alias("ties"),
        F.sum(cvm_term).alias("cvm_s"),
        F.max(cvm_denom).alias("cvm_den"),
        F.count(F.lit(1)).alias("cvm_rows"),
        F.count(cvm_term).alias("cvm_terms"),
        F.count(cvm_denom).alias("cvm_denoms"),
        ad_terms[0].alias("ad_a"),
        ad_terms[1].alias("ad_b"),
        F.max("tot_a").alias("n_a"),
        F.max("tot_b").alias("n_b"),
    ]
    agg = sel.groupBy(*keys).agg(*aggs) if keys else sel.agg(*aggs)
    # --- driver-free finishing math (same expressions as the operators) ---
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    u = F.col("ra") - na * (na + 1) / 2
    mu = na * nb / 2
    var = na * nb / 12 * ((n + 1) - F.col("ties") / (n * (n - 1)))
    # partial-overflow detection mirrors cvm_statistic's exact path: an
    # ansi-off DECIMAL(38,0) overflow nulls individual terms and F.sum
    # SKIPS them, so the sum can be non-null yet wrong — require every
    # row to have produced a non-null term, not just a non-null sum
    cvm_ok = (
        F.col("cvm_s").isNotNull()
        & F.col("cvm_den").isNotNull()
        & (F.col("cvm_terms") == F.col("cvm_rows"))
        & (F.col("cvm_denoms") == F.col("cvm_rows"))
    ) | F.col("n_a").isNull()
    cvm_val = F.when(
        F.col("cvm_den") == 0, F.lit(None).cast("double")
    ).otherwise(
        F.col("cvm_s").cast("double") / F.col("cvm_den").cast("double")
    )
    one_sided = (F.col("n_a") == 0) | (F.col("n_b") == 0)
    return agg.select(
        *keys,
        "ks_d",
        u.alias("u_stat"),
        F.when((na > 0) & (nb > 0) & (var > 0), (u - mu) / F.sqrt(var)).alias(
            "z_score"
        ),
        F.when(cvm_ok, cvm_val)
        .otherwise(
            F.raise_error(
                F.lit(
                    "drift_panel: CvM DECIMAL(38,0) overflow — pooled n "
                    "exceeds the ~2e9-row exact ceiling; compute "
                    "cvm_statistic(exact=False) separately"
                )
            )
        )
        .alias("cvm_t"),
        F.when(one_sided, F.lit(None).cast("double"))
        .otherwise((n - 1) / n * (F.col("ad_a") + F.col("ad_b")))
        .alias("ad_a2"),
        "n_a",
        "n_b",
    )


def categorical_drift_report(
    ref: DataFrame,
    cur: DataFrame | None,
    columns: list[str],
    keys: list[str] | None = None,
    max_categories: int | None = 65536,
    on_overflow: str = "error",
    split=None,
) -> DataFrame:
    """WHICH CATEGORICAL column drifted: PSI, Jensen-Shannon divergence,
    and the two-sample chi² homogeneity statistic for EVERY string column
    in ONE pass — (column, psi, jsd, chi2, n_a, n_b), one row per column.

    The categorical companion of :func:`feature_drift_report` (round 10,
    VERDICT r9 item 5): both sides melt (``profile._melt_sql``) to a
    TAGGED (column, category, in_r) relation — a narrow generate, no
    shuffle — and ONE groupBy (sum of tags / anti-tags per cell) aligns
    the two distributions in a single shuffle (NULL is a real category,
    absent categories count 0 — identical cells to the pre-round-13
    two-groupBy + null-safe full-outer shape, minus the join), and every
    statistic is a per-column window/agg over that bounded relation.
    ``split=`` makes the tag a predicate over ONE scan of a shared source
    (``cur=None``).
    Formulas are shared with the standalone operators:
    PSI uses the same EPS clamp as :func:`psi_categorical`, JSD the same
    0-handling as :func:`js_divergence`; chi² is the textbook
    homogeneity sum (zero cells contribute (0−e)²/e, so a category
    entirely missing from one side is evidence, not a skip).

    ``keys``: per-SEGMENT mix drift in the same pass (the categorical
    twin of the numeric panel's keys= — e.g. the source mix per
    language, per day): groupBys carry the keys, the category join is
    null-safe on them (NULL segment keys are real segments), and the
    windows partition per (segment, column), so parallelism GROWS with
    segment count. Output gains the key columns, one row per
    (segment, column).

    ``max_categories`` (round 11, VERDICT r10 item 6 — the fit_features
    on_overflow contract): the "bounded pass" claim is only true while
    Σ|categories| is bounded; a url/id-like string column at 100 TB makes
    it O(rows). Past the cap, ``on_overflow='error'`` (default) fails
    loudly; ``'keep'`` folds everything outside each column's
    ``max_categories`` highest-combined-count categories into one
    ``__other__`` bucket (deterministic ties) — the statistics then
    measure drift over the top-K mix, an explicit approximation.
    ``max_categories=None`` is the explicit exact opt-out (no check, no
    extra job).
    """
    if on_overflow not in ("error", "keep"):
        raise ValueError(
            "categorical_drift_report: on_overflow must be 'error' or "
            f"'keep', got {on_overflow!r}"
        )
    if (split is not None) and cur is not None:
        raise ValueError(
            "categorical_drift_report: pass EITHER cur (two frames) OR "
            "split (one tagged scan), not both"
        )
    if split is None and cur is None:
        raise ValueError(
            "categorical_drift_report: cur is required without split"
        )
    keys = list(keys or [])

    melt = F.expr(
        _melt_sql(columns, column="{name}", category="CAST({col} AS STRING)")
    )

    def _melt(df: DataFrame, tag) -> DataFrame:
        return df.select(*[F.col(_ident(k)) for k in keys], tag.alias("in_r"), melt)

    # ONE tagged relation and ONE groupBy build the aligned category
    # counts — sum(in_r)/sum(1-in_r) per cell is exactly what the old
    # two-groupBy + null-safe full-outer + coalesce(0) shape computed,
    # minus one shuffle and the join (guide §2.4; round 13). With
    # ``split`` the tag is a predicate over a SINGLE scan (rows where it
    # is NULL belong to neither side and drop — the two-filter
    # semantics); otherwise the two frames union with literal tags.
    if split is not None:
        # (no ensure_parallelism here, unlike the numeric panel: the
        # categorical melt is a cheap Generate whose groupBy collapses
        # map-side — the repartition shuffle measured SLOWER at sf0.1)
        tagged = _melt(
            ref, F.when(split, 1).when(~split, 0)
        ).where(F.col("in_r").isNotNull())
    else:
        tagged = _melt(ref, F.lit(1)).unionAll(_melt(cur, F.lit(0)))
    joined = tagged.groupBy(*keys, "column", "category").agg(
        F.sum("in_r").alias("n_r"),
        F.sum(1 - F.col("in_r")).alias("n_c"),
    )
    if max_categories is not None:
        if on_overflow == "error":
            # the overflow pre-check below evaluates `joined` (the tagged
            # melt + one groupBy) as its own job, and the returned plan
            # reads it again — checkpoint so the check materializes the
            # SAME relation the statistics consume (guide §2.4; the
            # round-13 materialize-once class). 'keep' mode has no
            # separate pre-evaluation job (joined has ONE consumer
            # there), so it skips the persist (ADVICE r13).
            joined = joined.localCheckpoint(eager=False)
            # one bounded reduction over the category counts — never
            # materializes the category relation anywhere central
            worst = (
                joined.groupBy(*keys, "column")
                .agg(F.count(F.lit(1)).alias("nc"))
                .agg(F.max("nc").alias("m"))
                .first()["m"]
            )
            if worst is not None and worst > max_categories:
                raise ValueError(
                    f"categorical_drift_report: a column has {worst} "
                    f"distinct categories (> max_categories="
                    f"{max_categories}) — the per-category relation is "
                    "no longer bounded. Pass on_overflow='keep' for a "
                    "top-K + __other__ bucket mix, raise max_categories, "
                    "or max_categories=None to accept the exact cost."
                )
        else:  # keep: top-K by combined count, rest folds into __other__
            wrank = Window.partitionBy(*keys, "column").orderBy(
                F.desc(F.col("n_r") + F.col("n_c")),
                F.asc_nulls_first("category"),
            )
            joined = (
                joined.withColumn("__rk", F.row_number().over(wrank))
                .withColumn(
                    "category",
                    F.when(
                        F.col("__rk") <= max_categories, F.col("category")
                    ).otherwise(F.lit("__other__")),
                )
                .groupBy(*keys, "column", "category")
                .agg(F.sum("n_r").alias("n_r"), F.sum("n_c").alias("n_c"))
            )
    # ≤ Σ|categories| rows per segment — bounded
    w = Window.partitionBy(*keys, "column")
    # one-sided guard: a segment/column absent from one side has a zero
    # total there — its proportions are 0 (EPS-clamped downstream), not a
    # DIVIDE_BY_ZERO under ANSI
    tot_r_w, tot_c_w = F.sum("n_r").over(w), F.sum("n_c").over(w)
    cells = joined.select(
        *keys,
        "column",
        F.when(tot_r_w > 0, F.col("n_r") / tot_r_w).otherwise(0.0).alias("p"),
        F.when(tot_c_w > 0, F.col("n_c") / tot_c_w).otherwise(0.0).alias("q"),
        "n_r",
        "n_c",
        F.sum("n_r").over(w).alias("tot_r"),
        F.sum("n_c").over(w).alias("tot_c"),
    )
    # PSI — identical clamp sequence to psi_categorical
    pr = F.greatest(F.col("p"), F.lit(EPS))
    pc = F.greatest(F.col("q"), F.lit(EPS))
    psi_term = (pc - pr) * F.log(pc / pr)
    # JSD — identical 0-handling to js_divergence
    m = (F.col("p") + F.col("q")) / 2
    term_p = F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / m)).otherwise(0.0)
    term_q = F.when(F.col("q") > 0, F.col("q") * F.log(F.col("q") / m)).otherwise(0.0)
    # chi² homogeneity: e_side = (n_r+n_c)·tot_side/N
    n_tot = (F.col("tot_r") + F.col("tot_c")).cast("double")
    row_tot = (F.col("n_r") + F.col("n_c")).cast("double")
    e_r = row_tot * F.col("tot_r") / n_tot
    e_c = row_tot * F.col("tot_c") / n_tot
    chi_term = F.when(
        e_r > 0, (F.col("n_r") - e_r) * (F.col("n_r") - e_r) / e_r
    ).otherwise(0.0) + F.when(
        e_c > 0, (F.col("n_c") - e_c) * (F.col("n_c") - e_c) / e_c
    ).otherwise(0.0)
    return cells.groupBy(*keys, "column").agg(
        F.sum(psi_term).alias("psi"),
        ((F.sum(term_p) + F.sum(term_q)) / 2).alias("jsd"),
        F.sum(chi_term).alias("chi2"),
        F.max("tot_r").alias("n_a"),
        F.max("tot_c").alias("n_b"),
    )


def feature_drift_report(
    ref: DataFrame,
    cur: DataFrame | None,
    columns: list[str],
    categorical_columns: list[str] | None = None,
    bins: int | None = None,
    bounds: dict | None = None,
    max_categories: int | None = 65536,
    on_overflow: str = "error",
    split=None,
) -> DataFrame:
    """WHICH FEATURE drifted: the full two-sample panel (KS D,
    Mann-Whitney U/z, CvM T, AD A²) for EVERY numeric column in ONE
    pass — (column, ks_d, u_stat, z_score, cvm_t, ad_a2, n_a, n_b),
    one row per column.

    This is the feature-level kill of the reference's per-column job
    loop (reference lib/utils.py:187-195 runs one Spark job per column
    per statistic): both sides melt to (column, value) through
    ``profile._melt_sql`` — a narrow generate, no shuffle; any column
    name works — and ``drift_panel(keys=['column'])`` treats each
    column as a segment of the SAME keyed ECDF build, so a
    40-feature drift report costs one scan per side + one grouped
    aggregation, not 160 jobs. Columns cast to double; NaN/null
    excluded per column (``_ecdf_counts`` population).

    ``categorical_columns`` (round 10): a real reference-shaped frame
    mixes string columns in (app/data_augmentation_enhanced.py:26-188
    carries ~170 mixed columns) — when given, the output widens to
    (column, ks_d, u_stat, z_score, cvm_t, ad_a2, psi, jsd, chi2, n_a,
    n_b): numeric rows carry NULL psi/jsd/chi2, categorical rows (from
    :func:`categorical_drift_report`, one extra bounded pass) carry NULL
    rank/ECDF statistics. Without it the legacy 8-column schema is
    returned unchanged.

    ``bins`` (round 10): the SCALE path — quantize each column into its
    own ``bins`` equi-width buckets before the keyed ECDF, so the panel
    reduces over ≤ columns·bins rows instead of the full per-column
    distinct-value relation (a continuous column at 100 TB has ~|rows|
    distinct values; the standalone operators' ``bins=`` contract,
    column-vectorized). Per-column (lo, hi) come from ``bounds``
    ({column: (lo, hi)}, e.g. frozen training-time bounds) or, when
    absent, from one extra narrow min/max aggregation per side; the
    bucket id is ONE shared expression over broadcast-joined bounds
    (identical IEEE sequence to the standalone ``_bucket``, so per-column
    results equal ``ks_statistic(..., bins=, lo=, hi=)`` & co exactly).
    Constant columns (hi == lo) collapse to bucket 0.

    ``split`` (round 13, optimization): a boolean Column over ``ref``
    naming the two-sample split — ``cur`` must then be None. The panel
    reads the source ONCE and tags rows (1 where the predicate holds,
    0 where its negation holds, dropped where it is NULL) instead of
    unioning two filtered scans of the same table — at 100 TB the
    second scan is pure I/O waste (guide §2.3/§6). Results are
    row-identical to ``feature_drift_report(ref.where(p),
    ref.where(~p), ...)`` for a null-free predicate.
    """
    if (split is not None) and cur is not None:
        raise ValueError(
            "feature_drift_report: pass EITHER cur (two frames) OR "
            "split (one tagged scan), not both"
        )
    if split is None and cur is None:
        raise ValueError("feature_drift_report: cur is required without split")

    melt = F.expr(_melt_sql(columns, column="{name}", v="CAST({col} AS DOUBLE)"))

    def _melt(df: DataFrame, tag=None, tag_col: str | None = None) -> DataFrame:
        # tag (split mode): 1 where the predicate holds, 0 where its
        # negation holds, NULL (dropped) where it is NULL — exactly the
        # rows the two-filter form keeps on each side.  tag_col names an
        # ALREADY-computed 0/1/NULL tag column (the split path computes
        # it before the parallelism repartition so the exchange carries
        # only the tag + panel columns, guide §2.3).
        if tag is not None:
            pre = [F.when(tag, 1).when(~tag, 0).alias("in_a")]
        elif tag_col is not None:
            pre = [F.col(tag_col).alias("in_a")]
        else:
            pre = []
        m = df.select(*pre, melt).where("NOT isnan(v) OR v IS NULL")
        if pre:
            # the split form feeds _ecdf_from_tagged directly, so apply
            # the null-v filter _ecdf_counts would have applied per side
            m = m.where("in_a IS NOT NULL AND v IS NOT NULL")
        return m

    def _bucketize(ms: list, extra: list):
        if bounds is not None:
            missing = [c for c in columns if c not in bounds]
            if missing:
                raise ValueError(
                    "feature_drift_report: bounds= missing columns "
                    f"{missing} — the bounds join would silently drop "
                    "their rows from the panel"
                )
            rows = [(c, float(lo), float(hi)) for c, (lo, hi) in bounds.items()]
        else:
            # inferring bounds evaluates the melt(s) once for the min/max
            # collect and the panel evaluates them again — checkpoint so
            # the bounds job materializes the relation the bucketing
            # reads (guide §2.4). Production avoids this pass entirely by
            # passing frozen training-time bounds=.
            ms = [m.localCheckpoint(eager=False) for m in ms]
            pooled = ms[0]
            for m in ms[1:]:
                pooled = pooled.select("column", "v").unionByName(
                    m.select("column", "v")
                )
            # NULL v (the two-frame melt keeps it) is left out, so a
            # column without a value gets no bounds row and drops out of
            # the panel, as it does unbinned and in the split= form
            rows = [
                (r["column"], float(r["lo"]), float(r["hi"]))
                for r in pooled.where("v IS NOT NULL")
                .groupBy("column")
                .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
                .collect()
            ]
        spec = ms[0].sparkSession.createDataFrame(
            rows, "column string, __lo double, __hi double"
        )
        w = F.when(
            F.col("__hi") > F.col("__lo"),
            (F.col("__hi") - F.col("__lo")) / F.lit(float(bins)),
        ).otherwise(F.lit(1.0))
        # Null-preserving: greatest() skips nulls, so the raw clamp would
        # turn a NULL v into bucket 0 and inflate n_a/n_b before
        # _ecdf_counts' null filter runs. Wrap in when(isNotNull) so the
        # binned path drops nulls exactly where the exact path does.
        b = F.when(
            F.col("v").isNotNull(),
            F.least(
                F.lit(bins - 1),
                F.greatest(
                    F.lit(0),
                    F.floor((F.col("v") - F.col("__lo")) / w).cast("int"),
                ),
            ),
        )
        def bk(m):
            return m.join(F.broadcast(spec), "column").select(
                "column", b.alias("v"), *extra
            )
        return [bk(m) for m in ms]

    # Mixed panels, split mode (round 14, VERDICT r13 item 7): ONE
    # materialized projection of the tag + every panel column feeds BOTH
    # the numeric and the categorical branch — previously each branch
    # scanned the source separately (2 scans; at 100 TB the second scan
    # is pure I/O, guide §2.3/§6). The persisted relation is exactly the
    # columns the panels read (narrower than the source), and each
    # branch's algorithm is UNCHANGED — only its input relation is the
    # shared materialization, so per-branch results are identical by
    # construction. EAGER: the two branches are consumed inside one
    # union query, and a lazy persist read by concurrent subtrees races
    # and recomputes (the r13 pagerank lesson).
    shared = None
    if (
        split is not None
        and columns
        and categorical_columns
        and "__in_a" not in set(columns) | set(categorical_columns)
    ):
        from dataquality_ml_spark.operators.relational import (
            ensure_parallelism,
            size_scaled_parallelism,
        )

        extra_cats = [c for c in categorical_columns if c not in columns]
        shared = ref.select(
            F.when(split, 1).when(~split, 0).alias("__in_a"),
            *[F.col(_ident(c)) for c in columns + extra_cats],
        )
        if len(columns) > 1:
            shared = ensure_parallelism(
                shared,
                min_partitions=size_scaled_parallelism(
                    shared,
                    row_multiplier=float(
                        len(columns) + len(categorical_columns)
                    ),
                ),
            )
        shared = shared.localCheckpoint(eager=True)
    if columns:
        if split is not None:
            # ONE scan of the source, tagged by the split predicate —
            # the two-filter form reads the same table twice (guide
            # §2.3/§6: at 100 TB the second scan is the cost). Bucket
            # ids are knob-bounded, so the binned panel also takes the
            # bounded-window ECDF (no decomposition, no driver collect).
            # ensure_parallelism: a few-fat-files source would otherwise
            # run the whole melt in 1-2 tasks now that there is only one
            # scan pipeline; no-op when the scan already parallelizes.
            # Only worth the (possible) repartition when the melt
            # multiplies rows — a single-column "melt" is a projection
            # and the shuffle measured slower than the 1-task pipeline.
            # Round 14 (VERDICT r13 item 1): (a) the tag + panel columns
            # are PROJECTED before the exchange so it never carries the
            # source's other columns (guide §2.3), and (b) the width is
            # sized from the input-bytes estimate, not the core count —
            # the defaultParallelism-wide shuffle of a ~10 MB scan made
            # the flagship panel 2× slower cold and slower at 32 cores
            # than 8 (guide §2.1).
            src = ref
            tag_kw: dict = {"tag": split}
            if shared is not None:
                src, tag_kw = shared, {"tag_col": "__in_a"}
            elif len(columns) > 1 and "__in_a" not in columns:
                from dataquality_ml_spark.operators.relational import (
                    ensure_parallelism,
                    size_scaled_parallelism,
                )

                src = ref.select(
                    F.when(split, 1).when(~split, 0).alias("__in_a"),
                    *[F.col(_ident(c)) for c in columns],
                )
                src = ensure_parallelism(
                    src,
                    min_partitions=size_scaled_parallelism(
                        src, row_multiplier=float(len(columns))
                    ),
                )
                tag_kw = {"tag_col": "__in_a"}
            mt = _melt(src, **tag_kw)
            if bins:
                (mt,) = _bucketize([mt], ["in_a"])
            num = drift_panel(
                None,
                None,
                "v",
                keys=["column"],
                ecdf=_ecdf_from_tagged(
                    mt.select("column", "v", "in_a"),
                    ["column"],
                    bounded=bool(bins),
                ),
            )
        else:
            ma, mb = _melt(ref), _melt(cur)
            if bins:
                ma, mb = _bucketize([ma, mb], [])
            num = drift_panel(ma, mb, "v", keys=["column"])
    else:
        num = None
    if not categorical_columns:
        if num is None:
            raise ValueError(
                "feature_drift_report: no numeric or categorical columns"
            )
        return num
    ncols = ["ks_d", "u_stat", "z_score", "cvm_t", "ad_a2"]
    ccols = ["psi", "jsd", "chi2"]
    cat = categorical_drift_report(
        shared if shared is not None else ref,
        cur,
        categorical_columns,
        max_categories=max_categories,
        on_overflow=on_overflow,
        # over the shared materialization the tag is already a 0/1/NULL
        # column; == 1 reproduces the predicate's three-way semantics
        split=(F.col("__in_a") == 1) if shared is not None else split,
    ).select(
        "column",
        *[F.lit(None).cast("double").alias(s) for s in ncols],
        *ccols,
        "n_a",
        "n_b",
    )
    if num is None:
        return cat
    return num.select(
        "column",
        *ncols,
        *[F.lit(None).cast("double").alias(s) for s in ccols],
        "n_a",
        "n_b",
    ).unionByName(cat)


def mutual_information(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Mutual information (nats) between two categorical columns as a
    1-row DataFrame (mi, n) — the dependence-strength companion to
    ``chi2_independence`` (chi2 grows with n even for fixed association;
    MI is the scale-free effect size the feature-selection pass ranks by).

    MI = Σ_cells (o/n)·ln(o·n/(ma·mb)) over OBSERVED cells only (empty
    cells contribute exactly 0, unlike chi2's expected-count terms).
    Same shape as chi2: one scan to the contingency table, margins from
    the table, the final sum over ≤|A|·|B| rows.
    """
    # four consumers (both margins, the total, the cells join) — without
    # the checkpoint each re-ran the corpus scan + contingency groupBy
    # (round 13, guide §2.4)
    cont = (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=False)
    )
    ma = cont.groupBy(col_a).agg(F.sum("o").alias("ma"))
    mb = cont.groupBy(col_b).agg(F.sum("o").alias("mb"))
    tot = cont.agg(F.sum("o").alias("n"))
    cells = (
        cont.join(ma, col_a)
        .join(F.broadcast(mb), col_b)
        .crossJoin(F.broadcast(tot))
    )
    term = (F.col("o") / F.col("n")) * F.log(
        F.col("o") * F.col("n") / (F.col("ma") * F.col("mb"))
    )
    return cells.agg(
        F.sum(term).alias("mi"),
        F.max("n").alias("n"),
    )


def chi2_independence(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Chi-square statistic of independence between two categorical columns
    as a 1-row DataFrame (chi2, dof, n).

    One groupBy builds the contingency table; margins reduce it further and
    cross-join back into the FULL |A|×|B| grid (tiny), so unobserved cells
    still contribute their (0−e)²/e term — dropping them understates chi2
    exactly when dependence is strongest. The raw data is scanned once
    regardless of table size. Expected count e = row_margin·col_margin/n.
    """
    # three consumers (both margins + the grid join-back) — checkpoint so
    # the corpus scan + contingency groupBy run once (round 13, guide §2.4)
    cont = (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=False)
    )
    ma = cont.groupBy(col_a).agg(F.sum("o").alias("ma"))
    mb = cont.groupBy(col_b).agg(F.sum("o").alias("mb"))
    wt = Window.partitionBy()
    full = (
        ma.crossJoin(mb)
        .join(cont, [col_a, col_b], "left")
        .select(
            col_a,
            col_b,
            "ma",
            "mb",
            F.coalesce("o", F.lit(0)).alias("o"),
        )
        .withColumn("n", F.sum("o").over(wt))
        .withColumn("e", F.col("ma") * F.col("mb") / F.col("n"))
    )
    return full.agg(
        F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e")).alias("chi2"),
        ((F.count_distinct(F.col(col_a)) - 1) * (F.count_distinct(F.col(col_b)) - 1))
        .cast("bigint")
        .alias("dof"),
        F.max("n").alias("n"),
    )


def psi_timeline(
    df: DataFrame,
    col: str,
    period,
    lo: float,
    hi: float,
    bins: int = 10,
) -> DataFrame:
    """Drift TIMELINE: PSI of every period's value distribution against
    the EARLIEST period — (period, psi, n), one row per period. The
    "when did it start drifting" report that a single two-sample test
    cannot answer; the retrain scheduler reads the first period whose
    PSI crosses the alarm line.

    ``period`` is a Column expression (e.g. ``F.dayofmonth("ts")``).
    ONE scan: groupBy(period, bin) with fixed equi-width bins collapses
    the data to ≤ |periods|·bins count rows; everything after (per-period
    totals, missing-bin spine, the reference join, the PSI sum) runs on
    that bounded relation. Same EPS clamp as ``psi_bins``, so
    psi_timeline(period=half) at two periods reproduces psi_bins'
    psi_total exactly.
    """
    counts = (
        df.where(F.col(col).isNotNull())
        .groupBy(
            period.alias("period"), _bucket(F.col(col), lo, hi, bins).alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spark = df.sparkSession
    periods = counts.select("period").distinct()
    spine = periods.crossJoin(
        spark.range(bins).select(F.col("id").cast("int").alias("bin"))
    )
    tot = Window.partitionBy("period")  # ≤ |periods|·bins rows — bounded
    props = (
        spine.join(counts, ["period", "bin"], "left")
        .select("period", "bin", F.coalesce("n", F.lit(0)).alias("n"))
        .withColumn("n_tot", F.sum("n").over(tot))
        .withColumn("p", F.col("n") / F.col("n_tot"))
    )
    ref_period = props.agg(F.min("period").alias("rp"))
    ref = (
        props.join(F.broadcast(ref_period), props.period == F.col("rp"))
        .select(F.col("bin").alias("rbin"), F.col("p").alias("p_ref"))
    )
    pr = F.greatest(F.col("p_ref"), F.lit(EPS))
    pc = F.greatest(F.col("p"), F.lit(EPS))
    return (
        props.join(F.broadcast(ref), props.bin == F.col("rbin"))
        .groupBy("period")
        .agg(
            F.sum((pc - pr) * F.log(pc / pr)).alias("psi"),
            F.max("n_tot").alias("n"),
        )
        .orderBy("period")
    )


def corr_drift(
    a: DataFrame,
    b: DataFrame,
    x: str,
    y: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Correlation drift between two samples: Pearson r of (x, y) on each
    side plus Fisher's z-test of r_a == r_b — a RELATIONSHIP drift test
    (PSI/KS watch marginals; a feature pair can keep both marginals and
    still invert its relationship, which silently breaks any model that
    learned it):

        z = (atanh(r_a) − atanh(r_b)) / sqrt(1/(n_a−3) + 1/(n_b−3))

    1-row result (r_a, r_b, fisher_z, n_a, n_b). ONE aggregation over
    the tagged union: conditional corr/count ignore the other side's
    nulled pairs, so both sides' moments come from a single map-side
    combined scan. atanh is spelled 0.5·ln((1+r)/(1−r)) so both engines
    run the identical expression tree.

    ``keys``: per-SEGMENT relationship drift in the same single pass
    (one row per key tuple — grouped-agg semantics, so a NULL segment
    key is a real segment). Segments where either side has < 4 pairs
    report fisher_z = NULL (the z denominator needs n − 3 > 0).
    """
    keys = list(keys or [])
    tagged = a.select(
        *keys, F.col(x).alias("x"), F.col(y).alias("y"), F.lit(1).alias("in_a")
    ).unionAll(
        b.select(
            *keys, F.col(x).alias("x"), F.col(y).alias("y"), F.lit(0).alias("in_a")
        )
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    side = lambda c, flag: F.when(F.col("in_a") == flag, F.col(c))  # noqa: E731
    aggs = [
        F.corr(side("x", 1), side("y", 1)).alias("r_a"),
        F.corr(side("x", 0), side("y", 0)).alias("r_b"),
        F.count(F.when(F.col("in_a") == 1, 1)).alias("n_a"),
        F.count(F.when(F.col("in_a") == 0, 1)).alias("n_b"),
    ]
    agg = tagged.groupBy(*keys).agg(*aggs) if keys else tagged.agg(*aggs)
    atanh = lambda r: 0.5 * F.log((1 + r) / (1 - r))  # noqa: E731
    z = (atanh(F.col("r_a")) - atanh(F.col("r_b"))) / F.sqrt(
        1 / (F.col("n_a") - 3) + 1 / (F.col("n_b") - 3)
    )
    z = F.when((F.col("n_a") > 3) & (F.col("n_b") > 3), z)
    return agg.select(*keys, "r_a", "r_b", z.alias("fisher_z"), "n_a", "n_b")


def cusum_changepoint(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket: str = "day",
    keys: list[str] | None = None,
) -> DataFrame:
    """CUSUM mean-shift changepoint screen over a time-bucketed series —
    per bucket the mean, the cumulative sum of deviations from the grand
    mean of bucket means (Page 1954's tracking statistic, two-sided),
    and a flag on the |CUSUM| peak: the bucket where the running series
    most decisively changed level. The drift-panel family answers "did
    the distribution move"; this answers WHEN. Returns (bucket_ts, n,
    mean_value, cusum, is_changepoint).

    Scale shape: ONE grouped aggregation collapses the corpus to the
    calendar-bounded bucket relation (≤ a few thousand rows for years of
    daily buckets); the grand mean broadcasts back as a 1-row join and
    the cumulative window runs over that bounded relation only — the
    same bounded-window class as exact ``roc_auc``. Window order is the
    bucket timestamp, so the float accumulation sequence is identical
    across engines. ``keys=`` runs one independent CUSUM PER SEGMENT
    (grand mean, cumulative, and peak all computed within the key) —
    every window is then key-partitioned, so the keyed face has NO
    unpartitioned window at all and a thousand-segment panel spreads
    across tasks.
    """
    from pyspark.sql import Window

    ks = list(keys or [])
    cells = (
        df.where(F.col(value_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(*ks, F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.col(value_col)).alias("mean_value"),
        )
    )
    if ks:
        grand = cells.groupBy(*ks).agg(F.avg("mean_value").alias("__gm"))
        scored = cells.join(grand, ks)
        w = Window.partitionBy(*ks).orderBy("bucket_ts").rowsBetween(
            Window.unboundedPreceding, 0
        )
        tot = Window.partitionBy(*ks)
    else:
        grand = cells.agg(F.avg("mean_value").alias("__gm"))
        scored = cells.join(F.broadcast(grand), F.lit(True))
        w = Window.orderBy("bucket_ts").rowsBetween(Window.unboundedPreceding, 0)
        tot = Window.partitionBy()
    scored = scored.withColumn(
        "cusum", F.sum(F.col("mean_value") - F.col("__gm")).over(w)
    )
    return scored.select(
        *ks,
        "bucket_ts",
        "n",
        "mean_value",
        "cusum",
        (F.abs(F.col("cusum")) == F.max(F.abs(F.col("cusum"))).over(tot))
        .cast("int")
        .alias("is_changepoint"),
    )


def cusum_monitor_batch(
    df: DataFrame,
    batch_col: str,
    mu0: float,
    value_col: str = "value",
    slack: float = 0.0,
    h: float = 1.0,
) -> DataFrame:
    """Batch face of the streaming CUSUM level monitor
    (streaming.score_stream.cusum_monitor_stream): Page's two-sided
    CUSUM of per-batch means against the FROZEN in-control mean ``mu0``,
    computed for EVERY batch in ONE pass via the prefix-sum identity
    S⁺ = P − min(0, min_j P_j) (and the mirrored max form for S⁻) —
    the same recursion the sequential foreachBatch fold carries as four
    floats, so the two faces agree row-for-row (differentially tested).
    Returns (batch_id, n, mean, splus, sminus, alarm), the streaming
    replay's schema.

    Use THIS face for backfills/audits at fine granularity (a daily
    replay drives one driver-sequenced fold per batch — ~150 sequential
    jobs for 5 months; this is one job); the fold remains the production
    streaming path. Rows with NULL value or batch key are dropped, so
    an all-null batch does not occupy a batch_id (the replay emits a
    placeholder row for it — filter nulls before slicing when comparing).

    Scale shape: one grouped aggregation collapses the corpus to the
    calendar-bounded batch relation; the running windows order by the
    batch key over that bounded relation only (the documented
    bounded-window class), so the float accumulation sequence is
    identical across engines and to the fold's.
    """
    from pyspark.sql import Window

    cells = (
        df.where(F.col(value_col).isNotNull() & F.col(batch_col).isNotNull())
        .groupBy(F.col(batch_col).alias("__b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.col(value_col)).alias("mean"),
        )
    )
    w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    dev_lo = F.col("mean") - F.lit(float(mu0)) - F.lit(float(slack))
    dev_hi = F.col("mean") - F.lit(float(mu0)) + F.lit(float(slack))
    scored = (
        cells.withColumn("__plo", F.sum(dev_lo).over(w))
        .withColumn("__phi", F.sum(dev_hi).over(w))
        .withColumn(
            "batch_id",
            (F.row_number().over(Window.orderBy("__b")) - 1).cast("bigint"),
        )
    )
    splus = F.col("__plo") - F.least(F.lit(0.0), F.min("__plo").over(w))
    sminus = F.greatest(F.lit(0.0), F.max("__phi").over(w)) - F.col("__phi")
    return scored.select(
        "batch_id",
        "n",
        "mean",
        splus.alias("splus"),
        sminus.alias("sminus"),
        ((splus > F.lit(float(h))) | (sminus > F.lit(float(h))))
        .cast("int")
        .alias("alarm"),
    )


def theil_sen_trend(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_points: int = 2000,
) -> DataFrame:
    """Theil–Sen robust trend over an AGGREGATED series — slope = median
    of all pairwise slopes (y_j−y_i)/(x_j−x_i), intercept = median of
    (y − slope·x): ~29% breakdown point, so a few corrupted buckets
    (backfills, outages) cannot swing the trend the way they swing OLS.
    Returns one row: (n_points, n_pairs, slope, intercept) — ``n_pairs``
    is the ACTUAL pair count the median ran over (tied-x pairs have no
    slope and are excluded, the standard Theil–Sen convention), not the
    nominal n(n−1)/2.

    Contract: the input must already be a BOUNDED series (monthly
    revenue, daily counts); the pair self-join is quadratic in it, so
    the operator counts the series first and RAISES past ``max_points``
    (loud-contract convention) — n=2000 is already 2M pair rows,
    trivially distributed but pointless beyond a calendar-bounded
    series. Fewer than 2 DISTINCT x values also raises (every pairwise
    slope would be undefined). Medians interpolate (percentile
    semantics) for cross-engine determinism.
    """
    base = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct(F.col("x")).alias("nx")
    ).first()
    n, nx = int(stats["n"]), int(stats["nx"])
    if n > max_points:
        raise ValueError(
            f"theil_sen_trend: {n} points exceed max_points={max_points} — "
            "aggregate the series to calendar buckets first (the pair join "
            "is quadratic), or raise max_points deliberately"
        )
    if n < 2:
        raise ValueError(f"theil_sen_trend: need >=2 points, got {n}")
    if nx < 2:
        raise ValueError(
            f"theil_sen_trend: need >=2 DISTINCT x values, got {nx} over "
            f"{n} points — all pairwise slopes are undefined on a "
            "vertically stacked series; aggregate to distinct buckets first"
        )
    # contract passed → base is ≤ max_points rows: checkpoint it so the
    # pair join (both sides), the slope-median job and the intercept agg
    # read the materialized series instead of re-running the upstream
    # scan three more times (round 13, guide §2.4)
    base = base.localCheckpoint(eager=False)
    # non-equi pair join over a contract-bounded series: broadcast the
    # right side explicitly so the plan is a bounded BNLJ, never a
    # CartesianProduct (registry-wide plan gate)
    rhs = F.broadcast(base.select(F.col("x").alias("x2"), F.col("y").alias("y2")))
    slopes = base.join(rhs, F.col("x2") > F.col("x")).select(
        ((F.col("y2") - F.col("y")) / (F.col("x2") - F.col("x"))).alias("s")
    )
    med = slopes.agg(
        F.expr("percentile(s, 0.5)").alias("m"),
        F.count(F.lit(1)).alias("np"),
    ).first()
    slope, n_pairs = med["m"], int(med["np"])
    out = base.agg(
        F.lit(n).cast("bigint").alias("n_points"),
        F.lit(n_pairs).cast("bigint").alias("n_pairs"),
        F.lit(float(slope)).alias("slope"),
        F.expr(f"percentile(y - {float(slope)!r} * x, 0.5)").alias("intercept"),
    )
    return out


def mann_kendall_trend(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_points: int = 2000,
) -> DataFrame:
    """Mann–Kendall monotonic-trend test over an AGGREGATED series —
    S = Σ_{i<j} sign(y_j − y_i) ordered by x, tie-corrected variance
    Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18, and the
    continuity-corrected z (Mann 1945, Kendall 1975): the
    distribution-free "is this drifting AT ALL" answer that pairs with
    :func:`theil_sen_trend`'s "by how much" — no linearity or normality
    assumed, a single spike cannot fake a trend. Returns one row:
    (n_points, s_stat, var_s, z).

    Same loud contract as Theil–Sen: the input must already be a bounded
    series (the pair join is quadratic), counted first and raising past
    ``max_points``; the join is an explicit-broadcast BNLJ over that
    bounded relation. S and the tie terms are exact integers; z is one
    fixed float expression. The x values must be DISTINCT (the
    time-index assumption of the test): a tied x silently drops its
    pairs from S while Var(S) still counts all n(n−1)/2, biasing z —
    so duplicated x RAISES; aggregate to unique buckets first.
    """
    base = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct(F.col("x")).alias("nx")
    ).first()
    n, nx = int(stats["n"]), int(stats["nx"])
    if n > max_points:
        raise ValueError(
            f"mann_kendall_trend: {n} points exceed max_points={max_points} — "
            "aggregate the series to calendar buckets first, or raise "
            "max_points deliberately"
        )
    if n < 2:
        raise ValueError(f"mann_kendall_trend: need >=2 points, got {n}")
    if nx != n:
        raise ValueError(
            f"mann_kendall_trend: x values must be distinct ({n - nx} "
            "duplicated) — tied x drops pairs from S while the "
            "tie-corrected variance assumes all n(n-1)/2; aggregate to "
            "unique buckets first"
        )
    # contract passed → base is ≤ max_points rows: checkpoint it so the
    # S pair join (both sides) and the tie aggregation read the
    # materialized series instead of re-running the upstream scan three
    # more times (round 13, guide §2.4)
    base = base.localCheckpoint(eager=False)
    rhs = F.broadcast(base.select(F.col("x").alias("x2"), F.col("y").alias("y2")))
    s_row = (
        base.join(rhs, F.col("x2") > F.col("x"))
        .agg(F.sum(F.signum(F.col("y2") - F.col("y")).cast("bigint")).alias("s"))
        .first()
    )
    s = int(s_row["s"] or 0)
    ties = (
        base.groupBy("y")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            ).alias("tt")
        )
        .first()["tt"]
    )
    var_s = (n * (n - 1) * (2 * n + 5) - int(ties)) / 18.0
    if var_s > 0:
        z = (s - 1) / var_s**0.5 if s > 0 else ((s + 1) / var_s**0.5 if s < 0 else 0.0)
    else:
        z = 0.0
    spark = df.sparkSession
    return spark.createDataFrame(
        [(n, s, float(var_s), float(z))],
        "n_points bigint, s_stat bigint, var_s double, z double",
    )


def ewma_control(
    df: DataFrame,
    batch_col: str,
    value_col: str = "value",
    lam: float = 0.2,
    nsigma: float = 3.0,
    keys: list[str] | None = None,
    mu0: float | None = None,
    sigma0: float | None = None,
) -> DataFrame:
    """EWMA control chart (Roberts 1959; Lucas & Saccucci 1990) over
    per-batch means — the small-persistent-shift monitor between the
    Shewhart chart (big one-off spikes) and CUSUM (cumulative level
    shifts): z_t = λ·m_t + (1−λ)·z_{t−1}, z_0 = μ̂, flagged when z_t
    leaves μ̂ ± L·σ̂·sqrt(λ/(2−λ)·(1−(1−λ)^{2t})) (variance-inflation
    exact limits, not the asymptotic band — early batches get the
    tighter bound they deserve).

    ONE pass via the closed form z_t = r^t·(μ̂ + λ·Σ_{i≤t} m_i/r^i)
    with r = 1−λ — the same prefix-identity trick cusum_monitor_batch
    uses, so the whole chart is a window expression over the
    calendar-bounded batch relation (no sequential fold). Numerically
    sound for bounded horizons: the 1/r^i terms grow, but their sum's
    absolute error is dominated by the LARGEST (most recent) term,
    which r^t rescales back to O(m) — error stays ~ulp(m)·t.

    ``keys`` gives one independent chart per key with every window
    key-partitioned (μ̂, σ̂, the running sum, and t all per key — NO
    unpartitioned window, same contract as cusum_changepoint(keys=)).
    Returns (*keys, batch_id, n, mean, ewma, lcl, ucl, ooc).

    ``mu0``/``sigma0`` freeze the in-control reference (the CUSUM-
    monitor convention) — pass them from a known-good window when the
    monitored range may CONTAIN the shift, because self-estimated
    center/scale are contaminated by it (the shift inflates σ̂ and
    drags μ̂, widening the band and delaying the alarm). Defaults
    self-estimate per key: μ̂ = mean and σ̂ = sample stddev of per-batch
    means — keys with one batch have NULL limits and ooc=0.
    """
    from pyspark.sql import Window

    if not 0.0 < lam <= 1.0:
        raise ValueError(f"ewma_control: lam must be in (0, 1], got {lam}")
    keys = list(keys or [])
    r = 1.0 - lam
    cells = (
        df.where(
            F.col(value_col).isNotNull() & F.col(batch_col).isNotNull()
            & ~F.isnan(F.col(value_col))
        )
        .groupBy(*keys, F.col(batch_col).alias("__b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.col(value_col)).alias("mean"),
        )
    )
    wg = Window.partitionBy(*keys) if keys else Window.partitionBy()
    cum = (
        wg.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    )
    center = F.lit(float(mu0)) if mu0 is not None else F.avg("mean").over(wg)
    scale = (
        F.lit(float(sigma0))
        if sigma0 is not None
        else F.stddev_samp("mean").over(wg)
    )
    t = F.row_number().over(wg.orderBy("__b")).cast("double")
    scored = cells.select(
        *keys,
        "__b",
        "n",
        "mean",
        center.alias("__mu0"),
        scale.alias("__sig0"),
        t.alias("__t"),
        F.sum(F.col("mean") / F.pow(F.lit(r), t)).over(cum).alias("__cq"),
    )
    z = F.pow(F.lit(r), "__t") * (
        F.col("__mu0") + F.lit(lam) * F.col("__cq")
    )
    half = (
        F.lit(nsigma)
        * F.col("__sig0")
        * F.sqrt(
            F.lit(lam / (2.0 - lam))
            * (F.lit(1.0) - F.pow(F.lit(r), F.lit(2.0) * F.col("__t")))
        )
    )
    return scored.select(
        *keys,
        (F.col("__t") - 1).cast("bigint").alias("batch_id"),
        "n",
        "mean",
        z.alias("ewma"),
        (F.col("__mu0") - half).alias("lcl"),
        (F.col("__mu0") + half).alias("ucl"),
        F.coalesce(
            ((z < F.col("__mu0") - half) | (z > F.col("__mu0") + half)).cast(
                "int"
            ),
            F.lit(0),
        ).alias("ooc"),
    )


def acf_ljung_box(
    df: DataFrame,
    batch_col: str,
    value_col: str = "value",
    max_lag: int = 7,
    keys: list[str] | None = None,
) -> DataFrame:
    """Sample autocorrelation function + Ljung-Box portmanteau statistic
    (Box & Pierce 1970; Ljung & Box 1978) of the per-batch mean series —
    the "is this metric serially dependent?" diagnostic that tells a
    monitoring stack whether its control-chart independence assumptions
    hold (a strongly autocorrelated daily mean makes Shewhart/EWMA false
    alarms, and a lag-7 spike exposes weekly seasonality directly).

    ρ_k = Σ_{t≤T−k}(m_t−m̄)(m_{t+k}−m̄) / Σ_t(m_t−m̄)² (standard biased
    sample ACF — the estimator with the positive-semidefinite ACF
    matrix), and Q_k = T(T+2)·Σ_{j≤k} ρ_j²/(T−j) cumulated over lags.
    Returns (*keys, lag, n_batches, rho, q_lb) for lag 1..max_lag.

    Shape: one grouped agg collapses the corpus to the calendar-bounded
    batch relation; all ``max_lag`` lead columns come from ONE window
    pass (same partition+order ⇒ one Window node); one agg to a single
    row per key; posexplode to (lag, rho); the cumulative Q windows over
    ≤max_lag rows. With ``keys`` every window is key-partitioned.
    """
    from pyspark.sql import Window

    if max_lag < 1:
        raise ValueError(f"acf_ljung_box: max_lag must be >= 1, got {max_lag}")
    keys = list(keys or [])
    cells = (
        df.where(
            F.col(value_col).isNotNull() & F.col(batch_col).isNotNull()
            & ~F.isnan(F.col(value_col))
        )
        .groupBy(*keys, F.col(batch_col).alias("__b"))
        .agg(F.avg(F.col(value_col)).alias("m"))
    )
    wg = Window.partitionBy(*keys) if keys else Window.partitionBy()
    wo = wg.orderBy("__b")
    dev = F.col("m") - F.avg("m").over(wg)
    led = cells.select(
        *keys,
        dev.alias("d0"),
        *[F.lead(dev, k).over(wo).alias(f"d{k}") for k in range(1, max_lag + 1)],
    )
    agg = led.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("T"),
        F.sum(F.col("d0") * F.col("d0")).alias("den"),
        *[
            F.sum(F.col("d0") * F.col(f"d{k}")).alias(f"num{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    rhos = agg.select(
        *keys,
        F.col("T"),
        F.posexplode(
            F.array(*[F.col(f"num{k}") / F.col("den") for k in range(1, max_lag + 1)])
        ).alias("__p", "rho"),
    ).select(
        *keys,
        (F.col("__p") + 1).cast("int").alias("lag"),
        F.col("T").alias("n_batches"),
        "rho",
    )
    wq = (
        (Window.partitionBy(*keys) if keys else Window.partitionBy())
        .orderBy("lag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    q = (
        F.col("n_batches")
        * (F.col("n_batches") + 2)
        * F.sum(
            F.col("rho") * F.col("rho") / (F.col("n_batches") - F.col("lag"))
        ).over(wq)
    )
    return rhos.select(*keys, "lag", "n_batches", "rho", q.alias("q_lb"))


def ks_matrix_binned(
    df: DataFrame,
    key_col: str,
    value_col: str = "value",
    bins: int = 50,
    lo: float = 0.0,
    hi: float = 1.0,
    max_keys: int = 1000,
) -> DataFrame:
    """Pairwise binned-KS distance MATRIX across segments — "which
    segments differ from which": the omnibus tests (anova/kruskal) say
    *whether* segment distributions differ, the keyed two-window faces
    say *when*; this says *which pairs*, the input a segment-merge or
    stratification decision actually needs. D is computed on the
    frozen ``bins``-cell equi-width CDF grid over [lo, hi] (the
    roc_auc_binned convention: explicit bracketing bounds, values
    clamped into the end cells), so it is a lower bound on exact KS
    with error ≤ the grid's max cell mass. Returns one row per
    unordered key pair: (key_a, key_b, n_a, n_b, ks_d).

    Scale shape + contract: one grouped count to (key, bin) cells; the
    CDF window partitions by key over ≤bins spine rows (missing bins
    zero-filled from the key×bin spine, so the running sum carries
    forward); the pair join is an equi-join on bin over the bounded
    spine. k segments emit k(k−1)/2 pairs — loud ``max_keys`` contract
    (one approx_count_distinct pre-check) since the matrix is
    quadratic in the key cardinality by definition.
    """
    from pyspark.sql import Window

    if bins < 2:
        raise ValueError(f"ks_matrix_binned: bins must be >= 2, got {bins}")
    if not lo < hi:
        raise ValueError(f"ks_matrix_binned: need lo < hi, got ({lo}, {hi})")
    valid = df.where(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col))
        & F.col(key_col).isNotNull()
    )
    nk = valid.agg(F.approx_count_distinct(key_col).alias("g")).first()["g"]
    if nk and nk > max_keys:
        raise ValueError(
            f"ks_matrix_binned: ~{nk} distinct {key_col!r} values exceed "
            f"max_keys={max_keys} — the matrix is k(k-1)/2 pairs; "
            "aggregate the key first or raise max_keys deliberately"
        )
    w = (float(hi) - float(lo)) / bins
    b = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col(value_col) - F.lit(float(lo))) / F.lit(w)).cast(
                "int"
            ),
        ),
    )
    cells = valid.groupBy(
        F.col(key_col).alias("__k"), b.alias("__bin")
    ).agg(F.count(F.lit(1)).alias("__n"))
    spine = (
        cells.select("__k")
        .distinct()
        .crossJoin(
            df.sparkSession.range(bins).select(
                F.col("id").cast("int").alias("__bin")
            )
        )
    )
    grid = spine.join(cells, ["__k", "__bin"], "left").select(
        "__k", "__bin", F.coalesce("__n", F.lit(0)).alias("__n")
    )
    wk = Window.partitionBy("__k")
    wcum = wk.orderBy("__bin").rowsBetween(Window.unboundedPreceding, 0)
    cdf = grid.select(
        "__k",
        "__bin",
        F.sum("__n").over(wk).alias("__tot"),
        (F.sum("__n").over(wcum) / F.sum("__n").over(wk)).alias("__cdf"),
    )
    a = cdf.select(
        F.col("__k").alias("key_a"),
        "__bin",
        F.col("__tot").alias("n_a"),
        F.col("__cdf").alias("__ca"),
    )
    bb = cdf.select(
        F.col("__k").alias("key_b"),
        "__bin",
        F.col("__tot").alias("n_b"),
        F.col("__cdf").alias("__cb"),
    )
    return (
        a.join(bb, "__bin")
        .where(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.max(F.abs(F.col("__ca") - F.col("__cb"))).alias("ks_d"),
        )
        .orderBy("key_a", "key_b")
    )
