"""Plan-shape gates for the round-8 scale rewrites (VERDICT r7 items 1-2):

- spearman_qty_price / youden_threshold must contain NO partition-less
  window anywhere — their distinct-value cumulative sums now run through
  ``relational.exclusive_prefix_sum`` (two-level range decomposition).
- the exact-percentile path (``thresholds.percentile_threshold(exact=True)``
  and friends) must never plan Spark's single-buffer ``Percentile``
  aggregate — it routes through the histogram-refine selection of
  ``profile.exact_quantiles_select``.

Value parity for the rewrites is pinned separately: the DuckDB oracles in
tests/test_oracle_parity.py stayed hash-green across the rewrite, and the
equality tests below pin the threshold helpers against the single-buffer
aggregate bit-for-bit on tie-heavy data.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from dataquality_ml_spark import plans


def _global_window_specs(plan: str) -> list[str]:
    """Window operator ids whose FIRST windowspecdefinition argument is an
    ordering (carries ASC/DESC) — i.e. unpartitioned global windows (same
    detection as test_misc_ops.test_value_deciles_plan_and_ntile_parity)."""
    out = []
    for m in re.finditer(
        r"\((\d+)\) Window\n(?:[^\n]*\n)*?\s*Arguments: "
        r"\[[^\]]*windowspecdefinition\(([^)]*)\)",
        plan,
    ):
        first_arg = m.group(2).split(",")[0]
        if " ASC" in first_arg or " DESC" in first_arg:
            out.append(m.group(1))
    return out


def test_spearman_no_global_window(spark, sf_dir):
    from dataquality_ml_spark.queries_ext import spearman_qty_price

    df = spearman_qty_price(spark, sf_dir)
    assert _global_window_specs(plans.formatted_plan(df)) == []


def test_youden_no_global_window(spark, sf_dir):
    from dataquality_ml_spark.queries import youden_threshold

    df = youden_threshold(spark, sf_dir)
    assert _global_window_specs(plans.formatted_plan(df)) == []


def test_exact_quantiles_plan_has_no_percentile_aggregate(spark, monkeypatch):
    """Every query the exact selection runs, including the depth-capped
    fallback's cumulative step (collect_limit=1 forces it), plans neither
    a ``percentile`` aggregate nor a global window — the cumulative step
    goes through the keyed exclusive_prefix_sum decomposition."""
    from dataquality_ml_spark.operators.profile import exact_quantiles_select

    seen = []
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    collect = frame.collect

    def spy(self):
        seen.append(plans.formatted_plan(self))
        return collect(self)

    monkeypatch.setattr(frame, "collect", spy)
    df = spark.range(1000).select(
        (F.col("id") % 97).cast("double").alias("value")
    )
    for kw in ({}, {"collect_limit": 1, "bins": 2}):
        exact_quantiles_select(df, "value", [0.25, 0.5, 0.95], **kw)
    assert len(seen) >= 3
    for plan in seen:
        assert not re.search(r"\bpercentile\(", plan), plan
        assert _global_window_specs(plan) == []


def test_percentile_threshold_matches_single_buffer_aggregate(spark):
    from dataquality_ml_spark.operators import thresholds as th

    # tie-heavy + interpolation-forcing: 501 rows over 37 distinct doubles
    df = spark.range(501).select(
        ((F.col("id") * 7919) % 37 / 3.0).alias("v")
    )
    for q in (0.5, 0.9, 0.95, 0.999):
        want = df.agg(F.expr(f"percentile(v, {q})").alias("t")).first()["t"]
        got = th.percentile_threshold(df, "v", q, exact=True)
        assert got == want, (q, got, want)  # bit-equal, not approx

    want_row = df.agg(F.expr("percentile(v, array(0.25, 0.75))").alias("qs")).first()
    q1, q3 = want_row["qs"]
    assert th.iqr_threshold(df, "v", k=1.5, exact=True) == q3 + 1.5 * (q3 - q1)


def test_ks_exact_no_global_window(spark):
    """ks_statistic exact mode (bins=None) runs its ECDF cumulatives
    through exclusive_prefix_sum — a continuous column's distinct-value
    relation is row-sized, so any unpartitioned window here is the
    VERDICT r7 item-1 funnel."""
    from dataquality_ml_spark.operators.drift import ks_statistic

    a = spark.range(500).select((F.col("id") * 1.7).alias("v"))
    b = spark.range(400).select((F.col("id") * 2.3 + 0.5).alias("v"))
    out = ks_statistic(a, b, "v")
    assert _global_window_specs(plans.formatted_plan(out)) == []

    # value parity against the straightforward single-window form
    import bisect

    av = sorted(r["v"] for r in a.collect())
    bv = sorted(r["v"] for r in b.collect())
    want = max(
        abs(
            bisect.bisect_right(av, x) / len(av)
            - bisect.bisect_right(bv, x) / len(bv)
        )
        for x in av + bv
    )
    got = out.first()
    assert abs(got["ks_d"] - want) < 1e-12
    assert (got["n_a"], got["n_b"]) == (500, 400)


def test_rank_sum_and_cvm_no_global_window(spark):
    """The exact paths of the round-8 two-sample tests share _ecdf_counts
    with KS — distributed prefix sums only, no unpartitioned window."""
    from dataquality_ml_spark.operators.drift import (
        anderson_darling,
        cvm_statistic,
        rank_sum_test,
    )

    a = spark.range(300).select((F.col("id") * 1.3).alias("v"))
    b = spark.range(200).select((F.col("id") * 0.7).alias("v"))
    for out in (
        rank_sum_test(a, b, "v"),
        cvm_statistic(a, b, "v"),
        anderson_darling(a, b, "v"),
    ):
        assert _global_window_specs(plans.formatted_plan(out)) == []


def test_heavy_hitters_salted_two_level(spark):
    """heavy_hitters' only unpartitioned window must consume the salted
    level-1 survivors (≤ 32·top_n rows), never the raw distinct-value
    relation: the plan shows a partitioned window BELOW the global one."""
    import re as _re

    from dataquality_ml_spark.operators.profile import heavy_hitters

    df = spark.range(5000).select((F.col("id") % 237).alias("k"))
    out = heavy_hitters(df, "k", top_n=10)
    plan = plans.formatted_plan(out)
    glob = _global_window_specs(plan)
    assert len(glob) == 1  # the bounded level-2 rank only
    # level-1 salted window exists (partitionBy _salt → first
    # windowspecdefinition argument is the salt, not an ordering)
    assert _re.search(r"windowspecdefinition\(_salt", plan), plan

    # exactness: two-level == brute force on a tie-heavy distribution
    rows = out.collect()
    from collections import Counter

    cnt = Counter(r["k"] for r in df.collect())
    brute = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r["value"], r["n"]) for r in rows] == brute
    tot = sum(cnt.values())
    for r in rows:
        assert abs(r["share"] - r["n"] / tot) < 1e-12


def test_exclusive_prefix_sum_multi_descending_keyed(spark):
    from dataquality_ml_spark.operators.relational import exclusive_prefix_sum

    rows = [(k, float(v), v % 5 + 1, (v * 3) % 7) for k in ("a", "b") for v in range(40)]
    df = spark.createDataFrame(rows, "k string, ord double, x int, y int")

    # multi-measure descending, single group: matches a brute-force python
    # prefix computed from sorted rows
    one = df.where(F.col("k") == "a")
    got = {
        r["ord"]: (r["bx"], r["by"])
        for r in exclusive_prefix_sum(
            one, "ord", ["x", "y"], out=["bx", "by"], descending=True
        ).collect()
    }
    data = sorted([(r["ord"], r["x"], r["y"]) for r in one.collect()], reverse=True)
    ax = ay = 0
    for o, x, y in data:
        assert got[o] == (ax, ay), o
        ax += x
        ay += y

    # keyed: prefix restarts per key
    gotk = {
        (r["k"], r["ord"]): r["bx"]
        for r in exclusive_prefix_sum(df, "ord", "x", out="bx", keys=["k"]).collect()
    }
    for k in ("a", "b"):
        data = sorted(
            [(r["ord"], r["x"]) for r in df.where(F.col("k") == k).collect()]
        )
        acc = 0
        for o, x in data:
            assert gotk[(k, o)] == acc, (k, o)
            acc += x


def test_exact_quantiles_select_matches_percentile(spark):
    """Histogram-refine selection == single-buffer percentile aggregate on
    tie-heavy, continuous, skewed, constant, and NaN/null inputs —
    including forced refinement (tiny collect_limit) and the depth-cap
    force-collect path (few distinct values, huge counts)."""
    import random

    from dataquality_ml_spark.operators.profile import exact_quantiles_select

    qs = [0.01, 0.25, 0.5, 0.75, 0.9, 0.95, 0.999, 0.0, 1.0]
    q_sql = ", ".join(map(str, qs))

    def check(df, **kw):
        want = (
            df.where(F.col("v").isNotNull() & ~F.isnan("v"))
            .agg(F.expr(f"percentile(v, array({q_sql}))").alias("p"))
            .first()["p"]
        )
        got = exact_quantiles_select(df, "v", qs, **kw)
        assert all(
            (a == b) or (a is None and b is None) for a, b in zip(got, want)
        ), (got, want)

    rng = random.Random(3)
    check(spark.range(501).select(((F.col("id") * 7919) % 37 / 3.0).alias("v")))
    cont = spark.createDataFrame([(rng.gauss(0, 1),) for _ in range(20000)], "v double")
    check(cont)
    check(cont, collect_limit=64, bins=16)  # forces 2+ refinement levels
    check(
        spark.createDataFrame(
            [(rng.random(),) for _ in range(5000)] + [(1e18,)], "v double"
        ),
        collect_limit=256,
        bins=16,
    )  # outlier crushes the first histogram into one bucket
    check(spark.range(1000).select(F.lit(7.5).alias("v")))  # constant
    check(
        spark.range(100000).select((F.col("id") % 3).cast("double").alias("v")),
        collect_limit=16,
        bins=4,
    )  # ties >> limit: must not spin on a collapsed bucket grid
    check(
        spark.createDataFrame(
            [(None,), (float("nan"),)] + [(float(i),) for i in range(100)],
            "v double",
        )
    )  # NaN excluded, like percentile over the valid values
    assert exact_quantiles_select(
        spark.createDataFrame([], "v double"), "v", [0.5]
    ) == [None]


def test_exact_quantiles_select_grouped_and_null_keys(spark):
    """Grouped selection == per-group percentile INCLUDING a NULL group
    key (which also pins the round-8 null-safe-join fixes in
    exclusive_prefix_sum), and the >max_groups join membership returns
    identical values."""
    import random

    from dataquality_ml_spark.operators.profile import exact_quantiles_select

    qs = [0.1, 0.5, 0.9, 1.0]
    q_sql = ", ".join(map(str, qs))
    rng = random.Random(3)
    rows = (
        [("a", rng.gauss(0, 1)) for _ in range(4000)]
        + [("b", float(rng.randrange(5))) for _ in range(3000)]
        + [("c", 3.14)] * 50
        + [(None, rng.random()) for _ in range(500)]
    )
    gdf = spark.createDataFrame(rows, "g string, v double")
    want = {
        (r["g"],): list(r["p"])
        for r in gdf.groupBy("g")
        .agg(F.expr(f"percentile(v, array({q_sql}))").alias("p"))
        .collect()
    }
    got = exact_quantiles_select(
        gdf, "v", qs, group_by=["g"], collect_limit=512, bins=32
    )
    assert got == want
    assert exact_quantiles_select(gdf, "v", qs, group_by=["g"], max_groups=1) == want


def test_exact_quantiles_select_depth_cap_distributed_fallback(spark):
    """At the depth cap, a chain STILL above collect_limit must resolve
    DISTRIBUTED (grouped counts + per-chain prefix sum) rather than
    force-collecting an unbounded value-run relation to the driver
    (round-9 ADVICE: ranges straddling tiny widths can hold vast numbers
    of representable doubles). collect_limit=1 guarantees every chain
    hits the cap with cnt > limit; values must still be bit-equal to
    percentile."""
    import random

    from dataquality_ml_spark.operators.profile import exact_quantiles_select

    rng = random.Random(9)
    qs = [0.0, 0.1, 0.5, 0.9, 1.0]
    q_sql = ", ".join(map(str, qs))
    df = spark.createDataFrame(
        [(rng.random(),) for _ in range(4000)], "v double"
    )
    want = df.agg(F.expr(f"percentile(v, array({q_sql}))").alias("p")).first()["p"]
    got = exact_quantiles_select(df, "v", qs, bins=2, collect_limit=1)
    assert got == list(want)
    # grouped face through the same fallback, including a NULL group key
    gdf = spark.createDataFrame(
        [("a", rng.random()) for _ in range(2000)]
        + [(None, rng.gauss(0, 1)) for _ in range(1500)],
        "g string, v double",
    )
    gwant = {
        (r["g"],): list(r["p"])
        for r in gdf.groupBy("g")
        .agg(F.expr(f"percentile(v, array({q_sql}))").alias("p"))
        .collect()
    }
    assert exact_quantiles_select(
        gdf, "v", qs, group_by=["g"], bins=2, collect_limit=1
    ) == gwant


def test_exact_quantiles_select_many_groups_join_path(spark):
    """Above max_groups the selection stays a selection (broadcast-JOIN
    chain membership, count-row shuffles only — never the full
    distinct-value relation; round 9, VERDICT r8 item 3). Differential vs
    grouped percentile at 100 groups including a NULL key; forced
    refinement + depth-cap fallback covered via tiny collect_limit/bins."""
    import random

    from dataquality_ml_spark.operators import profile as prof

    rng = random.Random(17)
    rows = []
    for g in range(99):
        n = 30 + (g * 37) % 170
        rows += [(f"g{g:03d}", rng.gauss(g % 7, 1 + g % 3)) for _ in range(n)]
    rows += [(None, rng.random()) for _ in range(200)]  # NULL segment
    rows += [("const", 42.0)] * 25  # constant group: collapses level 0
    gdf = spark.createDataFrame(rows, "g string, v double")

    qs = [0.1, 0.5, 0.9, 1.0]
    q_sql = ", ".join(map(str, qs))
    want = {
        (r["g"],): list(r["p"])
        for r in gdf.groupBy("g")
        .agg(F.expr(f"percentile(v, array({q_sql}))").alias("p"))
        .collect()
    }
    got = prof.exact_quantiles_select(
        gdf, "v", qs, group_by=["g"], max_groups=64, collect_limit=32, bins=8
    )
    assert got == want
    assert len(got) == 101
    # depth-cap distributed fallback inside the join path
    got2 = prof.exact_quantiles_select(
        gdf, "v", qs, group_by=["g"], max_groups=64, collect_limit=1, bins=2
    )
    assert got2 == want


def test_all_quantile_faces_share_the_chain_engine(spark, monkeypatch):
    """Round 11 (VERDICT r10 item 3): ONE selection loop. Every exact
    quantile face — scalar select, grouped select, exact_quantiles_multi,
    thresholds' percentile/IQR helpers, median imputation — must resolve
    through the shared _select_chains engine, so a future quantile bug is
    one fix, not three. Values stay bit-equal to percentile()."""
    from dataquality_ml_spark.operators import profile as prof
    from dataquality_ml_spark.operators import thresholds as th

    calls = []
    real = prof._select_chains

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(prof, "_select_chains", spy)

    df = spark.range(1, 1002).select((F.col("id") % 97).cast("double").alias("v"))
    want = df.agg(
        F.expr("percentile(v, array(0.25, 0.5, 0.95))").alias("p")
    ).first()["p"]

    assert prof.exact_quantiles_select(df, "v", [0.25, 0.5, 0.95]) == list(want)
    assert len(calls) == 1
    got_m = prof.exact_quantiles_multi(df, ["v"], [0.5])
    assert got_m["v"][0.5] == want[1]
    assert len(calls) == 2
    assert th.percentile_threshold(df, "v", 0.95) == want[2]
    assert len(calls) == 3
    q1, q3 = want[0], df.agg(F.expr("percentile(v, 0.75)")).first()[0]
    assert th.iqr_threshold(df, "v", k=1.5) == q3 + 1.5 * (q3 - q1)
    assert len(calls) == 4
    # grouped face through the same engine
    gdf = df.withColumn("g", (F.col("v") < 50).cast("string"))
    gw = {
        (r["g"],): [r["p"]]
        for r in gdf.groupBy("g").agg(F.expr("percentile(v, 0.5)").alias("p")).collect()
    }
    assert prof.exact_quantiles_select(gdf, "v", [0.5], group_by=["g"]) == gw
    assert len(calls) == 5
    # median imputation: a null row takes the same exact median
    holed = df.union(spark.createDataFrame([(None,)], "v double"))
    imputed = th.impute_median(holed, ["v"], exact=True)
    assert len(calls) == 6
    n_med = df.where(F.col("v") == want[1]).count()
    assert imputed.where(F.col("v") == want[1]).count() == n_med + 1


def test_keyed_drift_family_no_global_window(spark):
    """The keys= faces of the two-sample family (round 9) must keep the
    no-unpartitioned-window property: keyed prefix sums restart per key
    inside exclusive_prefix_sum (partitioned windows only), so a
    100-segment panel has no single-task funnel anywhere in the plan."""
    from dataquality_ml_spark.operators.drift import (
        anderson_darling,
        cvm_statistic,
        ks_by_group,
        qq_table,
        rank_sum_test,
    )

    a = spark.range(400).select(
        (F.col("id") % 5).cast("string").alias("g"), (F.col("id") * 1.3).alias("v")
    )
    b = spark.range(300).select(
        (F.col("id") % 5).cast("string").alias("g"), (F.col("id") * 0.7).alias("v")
    )
    for out in (
        rank_sum_test(a, b, "v", keys=["g"]),
        cvm_statistic(a, b, "v", keys=["g"]),
        anderson_darling(a, b, "v", keys=["g"]),
        qq_table(a, b, "v", qs=(0.5,), keys=["g"]),
        ks_by_group(a, b, "v", keys=["g"]),
    ):
        assert _global_window_specs(plans.formatted_plan(out)) == []


def test_weighted_quantiles_select_matches_brute_force(spark):
    """Weighted selection == brute-force cumulative-weight scan (lower
    weighted quantile: smallest v with cumw >= q·W) on tie-heavy,
    skewed, and forced-refinement inputs, including the depth-cap
    distributed fallback (collect_limit=1) and weight-dominant rows."""
    import random

    from dataquality_ml_spark.operators.profile import weighted_quantiles_select

    rng = random.Random(31)
    qs = [0.0, 0.1, 0.5, 0.9, 0.99, 1.0]

    def brute(pairs):
        pairs = sorted(pairs)
        W = sum(w for _, w in pairs)
        out = []
        for q in qs:
            r = max(q * W, 1.0)
            cum = 0
            for v, w in pairs:
                cum += w
                if cum >= r:
                    out.append(v)
                    break
        return out

    def check(pairs, **kw):
        df = spark.createDataFrame(pairs, "v double, w long")
        got = weighted_quantiles_select(df, "v", "w", qs, **kw)
        assert got == brute(pairs), (got, brute(pairs))

    # continuous values, skewed integer weights (token-count shaped)
    pairs = [(rng.gauss(0, 1), 1 + rng.randrange(50)) for _ in range(4000)]
    check(pairs)
    check(pairs, collect_limit=64, bins=16)  # forced refinement
    check(pairs, collect_limit=1, bins=2)  # depth-cap distributed fallback
    # one giant-weight row dominating half the mass
    check(pairs + [(0.123, sum(w for _, w in pairs))])
    # ties everywhere
    check([(float(i % 3), 1 + i % 7) for i in range(2000)], bins=4)
    # nulls / NaN / non-positive weights excluded
    df = spark.createDataFrame(
        [(1.0, 5), (2.0, 0), (None, 9), (float("nan"), 9), (3.0, 5)],
        "v double, w long",
    )
    got = weighted_quantiles_select(df, "v", "w", [0.5, 1.0])
    assert got == [1.0, 3.0]
    # empty / zero-weight input
    assert weighted_quantiles_select(
        spark.createDataFrame([], "v double, w long"), "v", "w", [0.5]
    ) == [None]
    # round-10 ADVICE: q outside [0, 1] must raise a domain error up
    # front, not an opaque KeyError from the resolved-rank lookup
    for bad in ([1.5], [-0.1], [0.5, 2.0], [float("nan")]):
        with pytest.raises(ValueError, match="0 <= q <= 1"):
            weighted_quantiles_select(df, "v", "w", bad)


def test_weighted_quantiles_select_checkpoints_before_filter(spark, monkeypatch):
    """Over a pandas-UDF value column, the relation the weighted selection
    checkpoints holds the UDF once: its NULL/NaN/weight filter runs over
    the checkpoint, not pushed below the UDF's projection (which would
    evaluate the UDF twice per row). The relation the selection loop
    scans holds no UDF."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from dataquality_ml_spark.operators import profile as prof

    def square(x):
        return x * x

    # real annotation objects: this module's `from __future__ import
    # annotations` would stringize inline hints
    square.__annotations__ = {"x": pd.Series, "return": pd.Series}

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    checkpointed, selected = [], []
    frame = type(spark.range(1))
    real_checkpoint, real_select = frame.localCheckpoint, prof._select_chains

    def checkpoint_spy(self, *a, **kw):
        checkpointed.append(plan(self))
        return real_checkpoint(self, *a, **kw)

    def select_spy(vals, *a, **kw):
        selected.append(plan(vals))
        return real_select(vals, *a, **kw)

    monkeypatch.setattr(frame, "localCheckpoint", checkpoint_spy)
    monkeypatch.setattr(prof, "_select_chains", select_spy)
    df = spark.range(200).select(
        pandas_udf(square, "double")(F.col("id").cast("double")).alias("s"),
        (F.col("id") % 4).alias("w"),
    )
    got = prof.weighted_quantiles_select(df, "s", "w", [0.5])
    assert checkpointed and checkpointed[0].count("ArrowEvalPython") == 1
    assert len(selected) == 1 and "ArrowEvalPython" not in selected[0]
    pairs = sorted((float(i * i), i % 4) for i in range(200) if i % 4)
    half, cum = 0.5 * sum(w for _, w in pairs), 0
    want = next(v for v, w in pairs if (cum := cum + w) >= half)
    assert got == [want]


def test_weighted_quantiles_select_grouped(spark):
    """Grouped weighted selection == per-group brute-force cumulative
    weight scan, including a NULL group key and the forced-refinement /
    depth-cap paths; over max_groups the join-membership engine takes
    over and must resolve the SAME values as the WHEN-chain form."""
    import random

    from dataquality_ml_spark.operators.profile import weighted_quantiles_select

    rng = random.Random(37)
    qs = [0.1, 0.5, 0.9, 1.0]
    rows = (
        [("a", rng.gauss(0, 1), 1 + rng.randrange(30)) for _ in range(1500)]
        + [("b", float(rng.randrange(9)), 1 + rng.randrange(5)) for _ in range(900)]
        + [(None, rng.random(), 1 + rng.randrange(10)) for _ in range(400)]
    )
    df = spark.createDataFrame(rows, "g string, v double, w long")

    def brute(g):
        pairs = sorted((v, w) for gg, v, w in rows if gg == g)
        W = sum(w for _, w in pairs)
        out = []
        for q in qs:
            r, cum = max(q * W, 1.0), 0
            for v, w in pairs:
                cum += w
                if cum >= r:
                    out.append(v)
                    break
        return out

    want = {(g,): brute(g) for g in ("a", "b", None)}
    got = weighted_quantiles_select(df, "v", "w", qs, group_by=["g"])
    assert got == want
    got2 = weighted_quantiles_select(
        df, "v", "w", qs, group_by=["g"], bins=2, collect_limit=1
    )
    assert got2 == want

    # round 10 (VERDICT r9 item 2): beyond max_groups the broadcast-JOIN
    # membership engine resolves the SAME cuts (exact rank mapping
    # k = ceil(q·W) − 1), including the NULL segment, on every path
    got3 = weighted_quantiles_select(
        df, "v", "w", qs, group_by=["g"], max_groups=1
    )
    assert got3 == want
    got4 = weighted_quantiles_select(
        df, "v", "w", qs, group_by=["g"], max_groups=1, bins=2, collect_limit=1
    )
    assert got4 == want


def test_weighted_quantiles_many_groups_join_membership(spark):
    """>64 segments (the old hard ceiling): per-group weighted cuts from
    the join-membership engine == brute force for ALL 80 groups + NULL,
    with forced refinement and the depth-cap fallback exercised."""
    import random

    from dataquality_ml_spark.operators.profile import weighted_quantiles_select

    rng = random.Random(11)
    qs = [0.25, 0.5, 0.9]
    rows = []
    for gi in range(80):
        g = f"g{gi:02d}"
        rows += [
            (g, float(rng.randrange(40)) / (gi + 1), 1 + rng.randrange(12))
            for _ in range(30 + gi)
        ]
    rows += [(None, rng.random(), 1 + rng.randrange(6)) for _ in range(150)]
    rows += [("const", 42.0, 3)] * 20  # constant group: collapses level 0
    df = spark.createDataFrame(rows, "g string, v double, w long")

    def brute(g):
        pairs = sorted((v, w) for gg, v, w in rows if gg == g)
        W = sum(w for _, w in pairs)
        out = []
        for q in qs:
            r, cum = max(q * W, 1.0), 0
            for v, w in pairs:
                cum += w
                if cum >= r:
                    out.append(v)
                    break
        return out

    groups = [f"g{gi:02d}" for gi in range(80)] + [None, "const"]
    want = {(g,): brute(g) for g in groups}
    got = weighted_quantiles_select(df, "v", "w", qs, group_by=["g"])
    assert got == want
    got2 = weighted_quantiles_select(
        df, "v", "w", qs, group_by=["g"], bins=2, collect_limit=1
    )
    assert got2 == want


def test_weighted_sample_plans_take_ordered_and_group_limit(spark):
    """weighted_sample_k plans as TakeOrderedAndProject (global k) and as
    WindowGroupLimit (per-group k): no Exchange-then-full-sort shape on
    either path — the reservoir sampling never globally sorts the corpus."""
    from dataquality_ml_spark.operators.selection import weighted_sample_k

    df = spark.range(5000).selectExpr(
        "id as doc_id", "cast(id % 5 as string) as g",
        "cast(1 + id % 9 as double) as w",
    )
    p_global = (
        weighted_sample_k(df, "w", 10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in p_global
    p_grouped = (
        weighted_sample_k(df, "w", 10, group_by=["g"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in p_grouped


def test_round11_prefix_sum_ops_no_global_window(spark):
    """vocab_growth and quantile_map (round 11) accumulate over the whole
    corpus but must do it through exclusive_prefix_sum (per-partition
    subtotals + broadcast offsets), never an unpartitioned window — the
    property that keeps a billion-doc growth curve out of one task."""
    from dataquality_ml_spark.ml.features import quantile_map
    from dataquality_ml_spark.operators.text import vocab_growth

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok"), (F.col("id") % 37).cast("string")).alias("text"),
    )
    assert _global_window_specs(plans.formatted_plan(vocab_growth(docs))) == []

    cur = spark.range(500).select((F.col("id") % 97).cast("double").alias("v"))
    ref = spark.range(400).select((F.col("id") % 83).cast("double").alias("v"))
    out = quantile_map(cur, "v", ref)
    assert _global_window_specs(plans.formatted_plan(out)) == []


def test_registry_wide_no_cartesian_product(spark, sf_dir):
    """Plan-hygiene sweep over EVERY registered query (VERDICT r11 item 2):
    build each ``queries()[name]`` DataFrame at sf0.001 and scan its
    executedPlan for a bare ``CartesianProduct`` — the shape that let the
    r11 sorted-neighborhood OR-of-equalities join ship despite per-query
    semantic tests. No query executes here (plan build only, modulo the
    bounded driver-side scalars some builders compute); an explicit
    ``F.broadcast`` of a bounded relation may plan BroadcastNestedLoopJoin,
    which is why only CartesianProduct is gated."""
    import io
    from contextlib import redirect_stdout

    import __spark_entry__ as entry_mod

    offenders = []
    errors = []
    for name, fn in entry_mod.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # surface build failures loudly too
            errors.append((name, repr(exc)[:200]))
            continue
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert errors == [], errors
    assert offenders == [], (
        f"{len(offenders)} registered queries plan a CartesianProduct: "
        f"{offenders}"
    )


def test_low_cardinality_selection_skips_refinement(spark, monkeypatch):
    """Round 11: a column whose DISTINCT count fits the collect budget
    must resolve in ONE grouped collect even when its ROW count is far
    above collect_limit (quantity/discount-style columns) — no histogram
    refinement level at all. Values stay bit-equal to percentile()."""
    from dataquality_ml_spark.operators import profile as prof

    def _boom(*a, **kw):
        raise AssertionError("low-cardinality chain must not refine")

    monkeypatch.setattr(prof, "_walk_hist", _boom)

    df = spark.range(200_000).select(((F.col("id") % 37) / 3.0).alias("v"))
    qs = [0.1, 0.5, 0.9, 0.999]
    q_sql = ", ".join(map(str, qs))
    want = df.agg(F.expr(f"percentile(v, array({q_sql}))").alias("p")).first()["p"]
    got = prof.exact_quantiles_select(df, "v", qs, collect_limit=1024)
    assert got == list(want)


# Round 13 (VERDICT r12 item 1): every entry must name a query whose
# global window provably runs over a BOUNDED relation — the one-line
# justification the allowlist contract requires. A name listed here
# that stops planning a global window fails the tightness assertion
# below (no stale entries).
GLOBAL_WINDOW_ALLOWED = {
    "roc_auc_value": "exact ROC over the distinct-score relation (documented small-distinct path; roc_auc_binned_value is the 100TB path)",
    "roc_auc_binned_value": "windows over <=bins frozen-grid cells",
    "string_index_freq": "rank over the grouped event_type relation (bounded categorical enum; the general indexer caps categories)",
    "heavy_hitters_users": "level-2 rank over <=32*top_n survivors of the salted level-1 prune",
    "event_type_pareto": "cumulative share over the grouped event_type enum relation",
    "monthly_revenue_growth": "LAG over one row per calendar month",
    "daily_completeness_check": "trailing window over one row per calendar day",
    "unigram_seed_docs": "rank over the <=4-char substring vocabulary (alphabet-bounded, not corpus-sized)",
    "quantile_sketch_events": "bounded-window read of the 200-bin frozen sketch",
    "lift_table_events": "cumulative gains over <=bins score cells",
    "hill_tail_orders": "rank over the TakeOrdered k+1 tail rows",
    "cusum_daily_value_events": "prefix sums over calendar-daily buckets",
    "cusum_monitor_batch_events": "one-pass Page statistic over calendar-daily buckets (batch face of the streaming fold)",
    "zipf_fit_docs": "OLS rank regression over exactly top_k=200 token rows",
    "survival_purchase_gap": "KM products over distinct durations under the max_points=65536 loud contract",
    "fdr_ks_panel_by_type": "BH rank + reverse running min over the per-event-type test panel (bounded categorical enum; fdr_bh's documented panel-bounded contract)",
}


def test_registry_wide_no_global_window(spark, sf_dir):
    """Plan-hygiene sweep over EVERY registered query (VERDICT r12 item
    1): build each ``queries()[name]`` plan at sf0.001 and scan it for
    Window nodes with an ORDERING as the first windowspecdefinition
    argument (i.e. no partition spec — the single-task funnel that is
    the next scale-killer class after CartesianProduct). Queries in
    GLOBAL_WINDOW_ALLOWED window over documented BOUNDED relations
    (calendar buckets, <=bins cells, top-k survivors); everything else
    must plan zero global windows. The allowlist must also stay TIGHT:
    an entry whose query no longer plans a global window is stale and
    fails, so the list cannot silently over-grant."""
    import __spark_entry__ as entry_mod
    from dataquality_ml_spark import plans as plan_mod

    offenders, errors, hits = [], [], set()
    for name, fn in entry_mod.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = plan_mod.formatted_plan(df)
        except Exception as exc:
            errors.append((name, repr(exc)[:200]))
            continue
        if _global_window_specs(plan):
            hits.add(name)
            if name not in GLOBAL_WINDOW_ALLOWED:
                offenders.append(name)
    assert errors == [], errors
    assert offenders == [], (
        f"{len(offenders)} registered queries plan an UNPARTITIONED "
        f"window outside the documented bounded-window allowlist: "
        f"{offenders}"
    )
    stale = set(GLOBAL_WINDOW_ALLOWED) - hits
    assert stale == set(), (
        f"stale GLOBAL_WINDOW_ALLOWED entries (no global window in "
        f"their current plan): {sorted(stale)}"
    )


def test_global_window_detector_catches_planted_funnel(spark, sf_dir):
    """Red-path check for the sweep's detector: a bare Window.orderBy
    over lineitem (the exact shape the sweep polices) must be flagged,
    and the same window with a partition spec must not."""
    from pyspark.sql import Window

    from dataquality_ml_spark import plans as plan_mod
    from dataquality_ml_spark.sources.readers import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    planted = li.withColumn(
        "rn", F.row_number().over(Window.orderBy("l_extendedprice"))
    )
    assert _global_window_specs(plan_mod.formatted_plan(planted)) != []
    keyed = li.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("l_orderkey").orderBy("l_extendedprice")
        ),
    )
    assert _global_window_specs(plan_mod.formatted_plan(keyed)) == []
