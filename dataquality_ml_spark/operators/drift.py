"""Distribution-drift operators: PSI, two-sample KS / Cramér–von Mises /
Mann–Whitney rank-sum / Anderson–Darling, Q-Q drift table, chi-square,
mutual information, and the per-feature drift report.

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
- One ECDF path: every two-sample test reads one relation with a row per
  distinct pooled value (or bucket id) carrying per-side counts, running
  counts and side totals. ``_ecdf_from_tagged`` builds it from a tagged
  (``*keys``, v, in_a) relation; ``_ecdf_counts`` tags two frames and
  ``feature_drift_report`` tags one melt of every panel column. Exact mode
  takes the running counts from a distributed prefix sum (a continuous
  column has ~|rows| distinct values); ``bins=`` takes them from a window
  over bucket ids — O(bins) rows, the 100 TB path.
- ``ks_statistic``: exact two-sample Kolmogorov-Smirnov D over that
  relation (binned KS: D error ≤ bin probability mass).
- ``cvm_statistic`` / ``rank_sum_test`` / ``anderson_darling`` /
  ``qq_table``: the body-shift, rank-based, tail-weighted and localized
  complements to KS, on the same relation. ``drift_panel`` computes KS,
  Mann–Whitney, CvM and AD in one aggregation; each of their formulas is
  written once, as SQL text (``_PANEL_AGG`` / ``_PANEL_OUT``), and the
  keyed standalone operators select the same fragments.
- ``chi2_independence``: chi-square statistic of independence between two
  categorical columns from the (a, b) contingency counts — one groupBy,
  margins derived with window sums (no second scan).
- ``mutual_information``: scale-free dependence effect size over the same
  contingency shape as chi2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataquality_ml_spark.operators.profile import _ident, _melt_sql, _str_lit
from dataquality_ml_spark.operators.relational import local_frame

EPS = 1e-6  # proportion clamp so empty bins don't produce ±inf PSI terms


def _cols(names: list[str]) -> list:
    """Quoted column references, so key names with spaces, dots or quotes
    resolve as one column each."""
    return [F.col(_ident(n)) for n in names]


def _bucket(col, lo: float, hi: float, bins: int):
    """Clamped equi-width bin id in [0, bins): outside values land in the
    edge bins, so the bucket expression is total (no null branch)."""
    w = (hi - lo) / bins
    raw = F.floor((col - F.lit(lo)) / F.lit(w)).cast("int")
    return F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw))


def _bin_props(df: DataFrame, col: str, lo: float, hi: float, bins: int, out: str) -> DataFrame:
    """(bin, proportion) in one scan: groupBy the bucket id, window-sum the
    per-bin counts into a total (the window runs over ≤``bins`` rows)."""
    c = F.col(_ident(col))
    counts = (
        df.where(c.isNotNull())
        .groupBy(_bucket(c, lo, hi, bins).alias("bin"))
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

    ``split``: a boolean Column over ``ref`` naming the two-sample split —
    ``cur`` must then be None. ONE scan, tagged per row (1/0/NULL-dropped),
    ONE groupBy(bin) carrying both sides' counts, instead of a second scan
    of the same table. Proportions are the same integer-count divisions,
    so results are bit-identical to the two-frame form for a null-free
    predicate.
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
        c = F.col(_ident(col))
        counts = (
            ref.where(c.isNotNull())
            .select(
                _bucket(c, lo, hi, bins).alias("bin"),
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
    """The ECDF relation of column ``col`` of two frames: their non-null
    values (or ``_bucket`` ids with ``bins=``) tagged 1 and 0 in one
    union, handed to :func:`_ecdf_from_tagged`. ``keys`` makes every
    statistic over it per segment."""
    keys = list(keys or [])
    c = F.col(_ident(col))
    key = _bucket(c, lo, hi, bins) if bins else c
    tagged = a.where(c.isNotNull()).select(*_cols(keys), key.alias("v"), F.lit(1).alias("in_a")).unionAll(
        b.where(c.isNotNull()).select(*_cols(keys), key.alias("v"), F.lit(0).alias("in_a"))
    )
    return _ecdf_from_tagged(tagged, keys, bounded=bool(bins))


def _ecdf_from_tagged(
    tagged: DataFrame, keys: list[str], bounded: bool
) -> DataFrame:
    """The ECDF relation every two-sample test reads, from a tagged
    (``*keys``, v, in_a) relation (in_a 1 for side a, 0 for side b; no
    NULL tag or value): one row per (key tuple, distinct v) with per-side
    counts (n_a, n_b), INCLUSIVE running counts (ca, cb) in v order and
    the side totals (tot_a, tot_b).

    ``bounded=True`` (bucket ids, |distinct v| bounded by a knob) takes the
    running counts and totals from one keyed window pass;
    ``bounded=False`` from the distributed prefix-sum decomposition, so
    no window funnels ~|rows| distinct values through one task. Both give
    identical integer ca/cb/tot columns."""
    kcols = _cols(keys)
    per_v = tagged.groupBy(*kcols, "v").agg(
        F.sum("in_a").alias("n_a"),
        F.sum(1 - F.col("in_a")).alias("n_b"),
    )
    if bounded:
        # the side totals ride the same keyed window pass as the running
        # counts (same partitioning: one exchange, no join, no second
        # aggregation of the upstream relation)
        run = (
            Window.partitionBy(*kcols)
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        full = Window.partitionBy(*kcols).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        return per_v.select(
            *kcols,
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

    # the decomposition's driver-side subtotal collect already holds the
    # per-key grand totals: read them back (with_totals) instead of
    # aggregating the upstream relation a second time
    cum, tot_map = exclusive_prefix_sum(
        per_v,
        "v",
        ["n_a", "n_b"],
        out=["_ba", "_bb"],
        keys=keys or None,
        with_totals=True,
    )
    cum = cum.select(
        *kcols,
        "v",
        "n_a",
        "n_b",
        (F.col("_ba") + F.col("n_a")).alias("ca"),
        (F.col("_bb") + F.col("n_b")).alias("cb"),
    )
    if keys:
        # eqNullSafe, not a plain equi-join: a NULL-keyed segment is a
        # real group (GROUP BY semantics on both engines keep it), and a
        # plain join would silently drop it
        key_schema = ", ".join(
            f"{_ident('__t_' + k)} {per_v.schema[k].dataType.simpleString()}" for k in keys
        )
        tots = local_frame(
            per_v.sparkSession,
            [(*kt, int(v[0]), int(v[1])) for kt, v in tot_map.items()],
            f"{key_schema}, tot_a bigint, tot_b bigint",
        )
        cond = None
        for k in keys:
            c = F.col(_ident(k)).eqNullSafe(F.col(_ident(f"__t_{k}")))
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


# The two-sample panel over an ECDF relation, written once as SQL text:
# ``_PANEL_AGG`` holds the per-segment aggregates of the per-row terms,
# ``_PANEL_OUT`` the finishing expressions over those aggregates. Double
# literals carry a D suffix (a bare 2.0 is a DECIMAL in Spark SQL).
_CNT = "(n_a + n_b)"
_CDF = "CASE WHEN tot_{s} > 0 THEN c{s} / tot_{s} ELSE 0.0D END"
# CvM numerator terms are exact integers in DECIMAL(38,0), cast BEFORE any
# product: the bigint products (ca·tot_b, N²·tot_a·tot_b) overflow int64
# well before 100 TB row counts
_GAP = "(CAST(ca AS DECIMAL(38,0)) * tot_b - CAST(cb AS DECIMAL(38,0)) * tot_a)"
_CVM_TERM = f"CAST({_CNT} AS DECIMAL(38,0)) * {_GAP} * {_GAP}"
_CVM_DEN = (
    "CAST(tot_a + tot_b AS DECIMAL(38,0)) * CAST(tot_a + tot_b AS DECIMAL(38,0))"
    " * tot_a * tot_b"
)
# Anderson–Darling (Scholz & Stephens 1987, A²_akN, k = 2): l is the pooled
# multiplicity, B the pooled count ≤ v minus l/2
_L = f"CAST({_CNT} AS DOUBLE)"
_N = "CAST(tot_a + tot_b AS DOUBLE)"
_B = f"(CAST(ca + cb AS DOUBLE) - {_L} / 2)"
_AD_DEN = f"({_B} * ({_N} - {_B}) - {_N} * {_L} / 4)"


def _ad_sum(s: str) -> str:
    """Side ``s``'s A² inner sum: M is its count ≤ v minus half its count
    at v; the gap is squared as g·g (Math.pow is only ≤1 ulp exact)."""
    g = f"({_N} * (CAST(c{s} AS DOUBLE) - n_{s} / 2) - tot_{s} * {_B})"
    return (
        f"sum(CASE WHEN {_AD_DEN} > 0 AND tot_{s} > 0 "
        f"THEN {_L} / {_N} * ({g} * {g}) / {_AD_DEN} / tot_{s} ELSE 0.0D END)"
    )


_PANEL_AGG = {
    "ks_d": f"max(abs({_CDF.format(s='a')} - {_CDF.format(s='b')}))",
    # n_a · pooled midrank: rows strictly below v plus (ties + 1) / 2
    "ra": f"sum(n_a * ((ca + cb - {_CNT}) + ({_CNT} + 1) / 2.0D))",
    "ties": f"CAST(sum({_CNT} * {_CNT} * {_CNT} - {_CNT}) AS DOUBLE)",
    "cvm_s": f"sum({_CVM_TERM})",
    "cvm_den": f"max({_CVM_DEN})",
    # under ansi off an overflowing DECIMAL(38,0) term becomes NULL and
    # sum SKIPS it, so a non-null sum can still be wrong: the finishing
    # guard compares the row count with the non-null term counts
    "cvm_rows": "count(1)",
    "cvm_terms": f"count({_CVM_TERM})",
    "cvm_denoms": f"count({_CVM_DEN})",
    "ad_a": _ad_sum("a"),
    "ad_b": _ad_sum("b"),
}
_NA, _NB = "CAST(n_a AS DOUBLE)", "CAST(n_b AS DOUBLE)"
_NN = f"({_NA} + {_NB})"
_U = f"(ra - {_NA} * ({_NA} + 1) / 2)"
_MU = f"({_NA} * {_NB} / 2)"
_VAR = f"({_NA} * {_NB} / 12 * (({_NN} + 1) - ties / ({_NN} * ({_NN} - 1))))"
_CVM_OK = (
    "(cvm_s IS NOT NULL AND cvm_den IS NOT NULL AND cvm_terms = cvm_rows"
    " AND cvm_denoms = cvm_rows) OR n_a IS NULL"
)
_CVM_OVERFLOW = (
    "cvm_statistic exact path: DECIMAL(38,0) overflow — pooled n exceeds the "
    "~2e9-row exact ceiling; rerun with cvm_statistic(exact=False) "
    "(normalized double gaps)"
)
_PANEL_OUT = {
    "ks_d": "ks_d",
    "u_stat": _U,
    # NaN > 0 is TRUE under Spark's NaN-greatest ordering, so the n == 1
    # guard must be explicit, not folded into var > 0
    "z_score": (
        f"CASE WHEN {_NA} > 0 AND {_NB} > 0 AND {_VAR} > 0 "
        f"THEN ({_U} - {_MU}) / sqrt({_VAR}) END"
    ),
    # one-sided segments have denominator 0 and report NULL
    "cvm_t": (
        f"CASE WHEN {_CVM_OK} THEN CASE WHEN cvm_den = 0 THEN CAST(NULL AS DOUBLE)"
        " ELSE CAST(cvm_s AS DOUBLE) / CAST(cvm_den AS DOUBLE) END"
        f" ELSE raise_error({_str_lit(_CVM_OVERFLOW)}) END"
    ),
    "ad_a2": (
        "CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(NULL AS DOUBLE)"
        f" ELSE ({_NN} - 1) / {_NN} * (ad_a + ad_b) END"
    ),
}


def _panel(ec: DataFrame, keys: list[str], aggs: list[str], outs: list[str]) -> DataFrame:
    """(``*keys``, ``*outs``, n_a, n_b) per key tuple of the ECDF relation
    ``ec``: one aggregation of the ``_PANEL_AGG`` terms ``aggs`` and the
    side totals, then one projection of the ``_PANEL_OUT`` expressions
    ``outs``."""
    agg = ec.groupBy(*_cols(keys)).agg(
        *[F.expr(f"{_PANEL_AGG[a]} AS {a}") for a in aggs],
        F.expr("max(tot_a) AS n_a"),
        F.expr("max(tot_b) AS n_b"),
    )
    return agg.selectExpr(
        *[_ident(k) for k in keys],
        *[f"{_PANEL_OUT[o]} AS {o}" for o in outs],
        "n_a",
        "n_b",
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
    ec = ecdf if ecdf is not None else _ecdf_counts(a, b, col, bins, lo, hi, keys=keys)
    return _panel(ec, keys, ["ks_d"], ["ks_d"])


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
    if exact:
        return _panel(
            ec,
            keys,
            ["cvm_s", "cvm_den", "cvm_rows", "cvm_terms", "cvm_denoms"],
            ["cvm_t"],
        )
    # normalized-double path for N beyond the decimal ceiling:
    # T = n_a·n_b/N · Σ cnt/N · (F_a − F_b)²  with F_i = c_i/tot_i;
    # a one-sided segment (tot_a or tot_b = 0) sums NULL terms to NULL
    gap_d = F.when(
        (F.col("tot_a") > 0) & (F.col("tot_b") > 0),
        F.col("ca") / F.col("tot_a") - F.col("cb") / F.col("tot_b"),
    )
    cnt_d = (F.col("n_a") + F.col("n_b")).cast("double")
    agg = (
        ec.select(*_cols(keys), (cnt_d * gap_d * gap_d).alias("s_term"), "tot_a", "tot_b")
        .groupBy(*_cols(keys))
        .agg(
            F.sum("s_term").alias("s"),
            F.max("tot_a").alias("n_a"),
            F.max("tot_b").alias("n_b"),
        )
    )
    nn = (F.col("n_a") + F.col("n_b")).cast("double")
    return agg.select(
        *_cols(keys),
        (F.col("n_a") * F.col("n_b") / (nn * nn) * F.col("s")).alias(
            "cvm_t"
        ),
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
    return _panel(ec, keys, ["ra", "ties"], ["u_stat", "z_score"])


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
    return _panel(ec, keys, ["ad_a", "ad_b"], ["ad_a2"])


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
    ``_ecdf_counts`` relation: value v occupies sorted index
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
            *_cols(keys),
            F.col("v").cast("double").alias("v"),
            (cum - cnt).alias("start"),
            cum.alias("end"),
            F.explode(targets).alias("s"),
        )
        picked = (
            tagged.groupBy(*_cols(keys), F.col("s.q").alias("q"))
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
                *_cols(keys),
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
            *[F.col(_ident(k)).alias(f"__r_{k}") for k in keys],
            F.col("q").alias("__r_q"),
            "val_b",
        )
        cond = F.col("q") == F.col("__r_q")
        for k in keys:
            cond = cond & F.col(_ident(k)).eqNullSafe(F.col(_ident(f"__r_{k}")))
        joined = left.join(right, cond, "full_outer").select(
            *[F.coalesce(F.col(_ident(k)), F.col(_ident(f"__r_{k}"))).alias(k) for k in keys],
            F.coalesce(F.col("q"), F.col("__r_q")).alias("q"),
            "val_a",
            "val_b",
            (F.col("val_b") - F.col("val_a")).alias("gap"),
        )
        return joined.orderBy(*_cols(keys), "q")
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
    """Per-CATEGORY PSI decomposition (the categorical face of
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
    map-side-combined pass.

    The per-row terms, the aggregate list and the finishing projection
    are SQL text (``_PANEL_AGG`` / ``_PANEL_OUT``), the same fragments
    ``ks_by_group``, ``rank_sum_test``, ``cvm_statistic`` and
    ``anderson_darling`` select, so the panel equals those operators
    exactly. Building it costs a few dozen py4j round trips, whatever the
    number of segments or whether PySpark captures call-site origins.

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
    return _panel(ec, keys, list(_PANEL_AGG), list(_PANEL_OUT))


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

    The categorical companion of :func:`feature_drift_report`: both
    sides melt (``profile._melt_sql``) to a TAGGED (column, category,
    in_r) relation — a narrow generate, no shuffle — and ONE groupBy (sum
    of tags / anti-tags per cell) aligns the two distributions in a
    single shuffle (NULL is a real category, absent categories count 0,
    no join), and every statistic is a per-column window/agg over that
    bounded relation.
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

    ``max_categories`` (the ``fit_features`` on_overflow contract): the "bounded pass" claim is only true while
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
        return df.select(*_cols(keys), tag.alias("in_r"), melt)

    # ONE tagged relation and ONE groupBy build the aligned category
    # counts: sum(in_r)/sum(1-in_r) per cell is what two groupBys, a
    # null-safe full-outer join and coalesce(0) would compute. With
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
    joined = tagged.groupBy(*_cols(keys), "column", "category").agg(
        F.sum("in_r").alias("n_r"),
        F.sum(1 - F.col("in_r")).alias("n_c"),
    )
    if max_categories is not None:
        if on_overflow == "error":
            # the overflow pre-check below evaluates `joined` (the tagged
            # melt + one groupBy) as its own job, and the returned plan
            # reads it again — checkpoint so the check materializes the
            # SAME relation the statistics consume. 'keep' mode has no
            # separate pre-evaluation job (joined has ONE consumer
            # there), so it skips the persist.
            joined = joined.localCheckpoint(eager=False)
            # one bounded reduction over the category counts — never
            # materializes the category relation anywhere central
            worst = (
                joined.groupBy(*_cols(keys), "column")
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
            wrank = Window.partitionBy(*_cols(keys), "column").orderBy(
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
                .groupBy(*_cols(keys), "column", "category")
                .agg(F.sum("n_r").alias("n_r"), F.sum("n_c").alias("n_c"))
            )
    # ≤ Σ|categories| rows per segment — bounded
    w = Window.partitionBy(*_cols(keys), "column")
    # one-sided guard: a segment/column absent from one side has a zero
    # total there — its proportions are 0 (EPS-clamped downstream), not a
    # DIVIDE_BY_ZERO under ANSI
    tot_r_w, tot_c_w = F.sum("n_r").over(w), F.sum("n_c").over(w)
    cells = joined.select(
        *_cols(keys),
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
    return cells.groupBy(*_cols(keys), "column").agg(
        F.sum(psi_term).alias("psi"),
        ((F.sum(term_p) + F.sum(term_q)) / 2).alias("jsd"),
        F.sum(chi_term).alias("chi2"),
        F.max("tot_r").alias("n_a"),
        F.max("tot_c").alias("n_b"),
    )


def _bucketize(
    long: DataFrame, columns: list[str], bins: int, bounds: dict | None
) -> DataFrame:
    """The tagged melt ``long`` (column, v, in_a; v never NULL) with v
    replaced by its column's clamped equi-width bucket id in [0, bins) —
    the IEEE sequence of ``_bucket``, so per-column results equal
    ``ks_statistic(..., bins=, lo=, hi=)`` & co exactly. Per-column
    (lo, hi) come from ``bounds`` or, when absent, from one min/max
    aggregation of ``long``. A constant column (hi == lo) collapses to
    bucket 0."""
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
        # the min/max collect and the panel both read the melt: checkpoint
        # so the bounds job materializes the relation the bucketing reads.
        # Frozen training-time bounds= avoid this pass. A column without a
        # value gets no bounds row and drops out, as it does unbinned.
        long = long.localCheckpoint(eager=False)
        rows = [
            (r["column"], float(r["lo"]), float(r["hi"]))
            for r in long.groupBy("column")
            .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
            .collect()
        ]
    spec = local_frame(
        long.sparkSession,
        rows, "column string, __lo double, __hi double"
    )
    w = F.when(
        F.col("__hi") > F.col("__lo"),
        (F.col("__hi") - F.col("__lo")) / F.lit(float(bins)),
    ).otherwise(F.lit(1.0))
    b = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((F.col("v") - F.col("__lo")) / w).cast("int")),
    )
    return long.join(F.broadcast(spec), "column").select("column", b.alias("v"), "in_a")


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
    per statistic). Every form runs the same steps:

    1. ONE tagged source: the panel columns plus a 0/1/NULL tag column —
       ``ref`` tagged 1 ``UNION ALL`` ``cur`` tagged 0, or, with
       ``split``, ``ref`` tagged by the predicate. When more than one
       numeric column is melted, its width follows the optimizer's size
       estimate (``relational.size_scaled_parallelism``), so a
       few-fat-files input does not run the melt in one or two tasks.
    2. ONE melt (``profile._melt_sql``) to (column, v, in_a), values cast
       to double, keeping rows with a tag and a non-null, non-NaN value —
       a narrow generate, no shuffle; any column name works.
    3. With ``bins``, bucket ids replace the values (``_bucketize``).
    4. ONE keyed ECDF build (``_ecdf_from_tagged(keys=['column'])``) and
       ``drift_panel`` over it: each column is a segment, so a
       40-feature report costs one scan + one grouped aggregation, not
       160 jobs.

    ``categorical_columns``: a real reference-shaped frame mixes string
    columns in (app/data_augmentation_enhanced.py:26-188 carries ~170
    mixed columns) — when given, the output widens to (column, ks_d,
    u_stat, z_score, cvm_t, ad_a2, psi, jsd, chi2, n_a, n_b): numeric
    rows carry NULL psi/jsd/chi2, categorical rows (from
    :func:`categorical_drift_report` over the same tagged source) carry
    NULL rank/ECDF statistics. Without it the 8-column schema is
    returned. When both panels read the source, it is materialized once.

    ``bins``: the SCALE path — quantize each column into its own ``bins``
    equi-width buckets before the keyed ECDF, so the panel reduces over
    ≤ columns·bins rows through a bounded window instead of the full
    per-column distinct-value relation (a continuous column at 100 TB has
    ~|rows| distinct values). Per-column (lo, hi) come from ``bounds``
    ({column: (lo, hi)}, e.g. frozen training-time bounds) or, when
    absent, from one extra min/max aggregation of the melt.

    ``split``: a boolean Column over ``ref`` naming the two-sample split
    — ``cur`` must then be None. The source is read ONCE (1 where the
    predicate holds, 0 where its negation holds, dropped where it is
    NULL) instead of as two filtered scans of the same table. Results
    are row-identical to ``feature_drift_report(ref.where(p),
    ref.where(~p), ...)`` for a null-free predicate.
    """
    from dataquality_ml_spark.operators.relational import (
        ensure_parallelism,
        size_scaled_parallelism,
    )

    if (split is not None) and cur is not None:
        raise ValueError(
            "feature_drift_report: pass EITHER cur (two frames) OR "
            "split (one tagged scan), not both"
        )
    if split is None and cur is None:
        raise ValueError("feature_drift_report: cur is required without split")
    cats = list(categorical_columns or [])
    if not columns and not cats:
        raise ValueError("feature_drift_report: no numeric or categorical columns")
    panel = list(columns) + [c for c in cats if c not in columns]
    tag = "__in_a"
    while tag in panel:
        tag = "_" + tag
    if split is None:
        proj = [_ident(c) for c in panel]
        src = ref.selectExpr(f"1 AS {_ident(tag)}", *proj).unionAll(
            cur.selectExpr(f"0 AS {_ident(tag)}", *proj)
        )
    else:
        src = ref.select(
            F.when(split, 1).when(~split, 0).alias(tag),
            *[F.col(_ident(c)) for c in panel],
        )
    if len(columns) > 1:
        src = ensure_parallelism(
            src,
            min_partitions=size_scaled_parallelism(
                src, row_multiplier=float(len(columns) + len(cats))
            ),
        )
    if columns and cats:
        # EAGER: the two panels are consumed inside one union query, and a
        # lazy checkpoint read by concurrent subtrees races and recomputes
        src = src.localCheckpoint(eager=True)
    num = None
    if columns:
        long = src.selectExpr(
            f"{_ident(tag)} AS in_a",
            _melt_sql(columns, column="{name}", v="CAST({col} AS DOUBLE)"),
        ).where("in_a IS NOT NULL AND v IS NOT NULL AND NOT isnan(v)")
        if bins:
            long = _bucketize(long, columns, bins, bounds)
        num = drift_panel(
            None,
            None,
            "v",
            keys=["column"],
            ecdf=_ecdf_from_tagged(long, ["column"], bounded=bool(bins)),
        )
    if not cats:
        return num
    ncols = ["ks_d", "u_stat", "z_score", "cvm_t", "ad_a2"]
    ccols = ["psi", "jsd", "chi2"]
    cat = categorical_drift_report(
        src,
        None,
        cats,
        max_categories=max_categories,
        on_overflow=on_overflow,
        # == 1 keeps the tag's three-way semantics: NULL is on neither side
        split=F.expr(f"{_ident(tag)} = 1"),
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
    # the corpus scan + contingency groupBy run once
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
    c = F.col(_ident(col))
    counts = (
        df.where(c.isNotNull())
        .groupBy(period.alias("period"), _bucket(c, lo, hi, bins).alias("bin"))
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
    kc = _cols(keys)
    tagged = a.select(
        *kc, F.col(x).alias("x"), F.col(y).alias("y"), F.lit(1).alias("in_a")
    ).unionAll(
        b.select(
            *kc, F.col(x).alias("x"), F.col(y).alias("y"), F.lit(0).alias("in_a")
        )
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    side = lambda c, flag: F.when(F.col("in_a") == flag, F.col(c))  # noqa: E731
    aggs = [
        F.corr(side("x", 1), side("y", 1)).alias("r_a"),
        F.corr(side("x", 0), side("y", 0)).alias("r_b"),
        F.count(F.when(F.col("in_a") == 1, 1)).alias("n_a"),
        F.count(F.when(F.col("in_a") == 0, 1)).alias("n_b"),
    ]
    agg = tagged.groupBy(*kc).agg(*aggs) if keys else tagged.agg(*aggs)
    atanh = lambda r: 0.5 * F.log((1 + r) / (1 - r))  # noqa: E731
    z = (atanh(F.col("r_a")) - atanh(F.col("r_b"))) / F.sqrt(
        1 / (F.col("n_a") - 3) + 1 / (F.col("n_b") - 3)
    )
    z = F.when((F.col("n_a") > 3) & (F.col("n_b") > 3), z)
    return agg.select(*kc, "r_a", "r_b", z.alias("fisher_z"), "n_a", "n_b")


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
    kc = _cols(ks)
    cells = (
        df.where(F.col(value_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(*kc, F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.col(value_col)).alias("mean_value"),
        )
    )
    if ks:
        grand = cells.groupBy(*kc).agg(F.avg("mean_value").alias("__gm"))
        scored = cells.join(grand, ks)
        w = Window.partitionBy(*kc).orderBy("bucket_ts").rowsBetween(
            Window.unboundedPreceding, 0
        )
        tot = Window.partitionBy(*kc)
    else:
        grand = cells.agg(F.avg("mean_value").alias("__gm"))
        scored = cells.join(F.broadcast(grand), F.lit(True))
        w = Window.orderBy("bucket_ts").rowsBetween(Window.unboundedPreceding, 0)
        tot = Window.partitionBy()
    scored = scored.withColumn(
        "cusum", F.sum(F.col("mean_value") - F.col("__gm")).over(w)
    )
    return scored.select(
        *kc,
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
    # scan three more times
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
    # more times
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
    return local_frame(
        spark,
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
    kc = _cols(keys)
    r = 1.0 - lam
    cells = (
        df.where(
            F.col(value_col).isNotNull() & F.col(batch_col).isNotNull()
            & ~F.isnan(F.col(value_col))
        )
        .groupBy(*kc, F.col(batch_col).alias("__b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.col(value_col)).alias("mean"),
        )
    )
    wg = Window.partitionBy(*kc) if keys else Window.partitionBy()
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
        *kc,
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
        *kc,
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
    kc = _cols(keys)
    cells = (
        df.where(
            F.col(value_col).isNotNull() & F.col(batch_col).isNotNull()
            & ~F.isnan(F.col(value_col))
        )
        .groupBy(*kc, F.col(batch_col).alias("__b"))
        .agg(F.avg(F.col(value_col)).alias("m"))
    )
    wg = Window.partitionBy(*kc) if keys else Window.partitionBy()
    wo = wg.orderBy("__b")
    dev = F.col("m") - F.avg("m").over(wg)
    led = cells.select(
        *kc,
        dev.alias("d0"),
        *[F.lead(dev, k).over(wo).alias(f"d{k}") for k in range(1, max_lag + 1)],
    )
    agg = led.groupBy(*kc).agg(
        F.count(F.lit(1)).alias("T"),
        F.sum(F.col("d0") * F.col("d0")).alias("den"),
        *[
            F.sum(F.col("d0") * F.col(f"d{k}")).alias(f"num{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    rhos = agg.select(
        *kc,
        F.col("T"),
        F.posexplode(
            F.array(*[F.col(f"num{k}") / F.col("den") for k in range(1, max_lag + 1)])
        ).alias("__p", "rho"),
    ).select(
        *kc,
        (F.col("__p") + 1).cast("int").alias("lag"),
        F.col("T").alias("n_batches"),
        "rho",
    )
    wq = (
        (Window.partitionBy(*kc) if keys else Window.partitionBy())
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
    return rhos.select(*kc, "lag", "n_batches", "rho", q.alias("q_lb"))


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
