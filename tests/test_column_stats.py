"""Column-keyed statistics: ``profile``, ``prune_low_quality``,
``valid_columns``, ``fit_features`` and the sketch path of
``batched_thresholds`` aggregate one long (i, v, ok)
relation grouped by column index instead of one wide row — output shape
on empty input, column order, DECIMAL and all-NULL columns, an aggregate
whose size does not grow with the column count, and job counts."""

from __future__ import annotations

import json
import math
import time
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataquality_ml_spark.operators import profile as prof

STATS = ("mean", "stddev", "min", "max", "p25", "p50", "p75", "p90", "p95")


def _close(a, b, rel=1e-12):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)


@pytest.fixture(scope="module")
def mixed(spark):
    """DECIMAL with a NULL, all-NULL double, int, double with NaN — 30 rows
    over several partitions so the per-column rows come from a shuffle."""
    rows = []
    for k in range(30):
        rows.append(
            (
                None if k % 6 == 0 else Decimal(f"{k * 3.25 - 20:.2f}"),
                None,
                k % 4,
                float("nan") if k % 5 == 0 else k / 3.0,
            )
        )
    df = spark.createDataFrame(
        rows, "dec decimal(12,2), dead double, n int, x double"
    ).repartition(3)
    return df, rows


@pytest.mark.parametrize("exact", [False, True])
def test_profile_zero_rows_gives_one_row_per_column(mixed, exact):
    df, _ = mixed
    empty = df.where("false")
    p = prof.profile(empty, exact_quantiles=exact)
    nullable = {f.name: f.nullable for f in p.schema.fields}
    assert nullable["column"] is False
    assert nullable["n_rows"] is False and nullable["n_valid"] is False
    rows = p.collect()
    assert [r["column"] for r in rows] == ["dec", "dead", "n", "x"]
    for r in rows:
        assert r["n_rows"] == 0 and r["n_valid"] == 0
        assert r["null_frac"] is None and r["zero_frac"] is None
        assert all(r[s] is None for s in STATS)


def test_zero_rows_collecting_operators(mixed, spark):
    from dataquality_ml_spark.ml import features as feat

    empty = mixed[0].where("false")
    assert prof.prune_low_quality(empty) == ["dec", "dead", "n", "x"]
    assert prof.valid_columns(empty) == []
    assert prof.valid_columns(empty, min_valid=0) == ["dec", "dead", "n", "x"]
    model = feat.fit_features(
        empty,
        roles={"numeric": ["n", "x"], "categorical": [], "boolean": []},
        label_col=None,
    )
    assert model.numeric_cols == []


@pytest.mark.parametrize("exact", [False, True])
def test_profile_rows_follow_columns_order(spark, exact):
    df = spark.range(200, numPartitions=4).selectExpr(
        *[f"CAST(id * {k} AS DOUBLE) AS c{k}" for k in range(12)]
    )
    order = [f"c{k}" for k in (7, 0, 11, 3, 9, 1, 10, 5, 2, 8, 4, 6)]
    rows = prof.profile(df, columns=order, exact_quantiles=exact).collect()
    assert [r["column"] for r in rows] == order
    for r in rows:
        k = int(r["column"][1:])
        assert r["max"] == 199.0 * k and r["n_valid"] == 200


@pytest.mark.parametrize("exact", [False, True])
def test_profile_decimal_and_all_null_columns(mixed, exact):
    df, rows = mixed
    got = {r["column"]: r for r in prof.profile(df, exact_quantiles=exact).collect()}
    n = len(rows)

    dec = np.array([float(r[0]) for r in rows if r[0] is not None])
    d = got["dec"]
    assert d["n_rows"] == n and d["n_valid"] == len(dec)
    assert _close(d["null_frac"], 1 - len(dec) / n)
    assert _close(d["zero_frac"], float((dec == 0).sum()) / n)
    # DECIMAL values are summed as DOUBLE: equal up to the last ulps
    assert _close(d["mean"], float(dec.mean()), rel=1e-13)
    assert _close(d["stddev"], float(dec.std(ddof=1)), rel=1e-12)
    assert d["min"] == dec.min() and d["max"] == dec.max()
    if exact:
        for q in prof.PROFILE_QUANTILES:
            assert _close(d[f"p{int(q * 100)}"], float(np.quantile(dec, q))), q
    else:
        # below the 10k accuracy, the element at rank ceil(q·n)
        srt = np.sort(dec)
        for q in prof.PROFILE_QUANTILES:
            want = srt[max(math.ceil(q * len(srt)) - 1, 0)]
            assert d[f"p{int(q * 100)}"] == want, q

    dead = got["dead"]
    assert dead["n_rows"] == n and dead["n_valid"] == 0
    assert dead["null_frac"] == 1.0 and dead["zero_frac"] == 0.0
    assert all(dead[s] is None for s in STATS)

    assert prof.valid_columns(df) == ["dec", "n", "x"]
    assert prof.prune_low_quality(df) == ["dec", "n", "x"]


def _aggregate_sizes(df) -> list[int]:
    """Number of aggregate expressions of every aggregate node in ``df``'s
    physical plan (before adaptive execution re-plans it)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.inputPlan()
    return [
        len(node["aggregateExpressions"])
        for node in json.loads(plan.toJSON())
        if node["class"].endswith("AggregateExec")
    ]


def test_profile_aggregate_size_independent_of_column_count(spark):
    def sizes(n_cols):
        df = spark.range(50).selectExpr(
            *[f"IF(id % 7 = 0, NULL, id * {k}) AS c{k}" for k in range(n_cols)]
        )
        return _aggregate_sizes(prof.profile(df))

    five = sizes(5)
    assert five and max(five) < 12, five
    assert sizes(38) == five


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"column-stats-{time.monotonic_ns()}"
    sc.setJobGroup(group, "job-count check")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    st = sc.statusTracker()
    deadline = time.monotonic() + 10
    while st.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.05)
    time.sleep(0.3)
    return len(st.getJobIdsForGroup(group))


def test_job_counts(spark):
    """One shuffle-map job plus one result job each (adaptive execution
    runs each stage as its own job) — what the wide single-row
    aggregation took too."""
    df = spark.range(300, numPartitions=3).selectExpr(
        "IF(id % 5 = 0, CAST('NaN' AS DOUBLE), id / 3) AS x",
        "IF(id % 7 = 0, NULL, id % 4) AS n",
        "CAST(id / 8 AS DECIMAL(12, 2)) AS dec",
    )
    assert _jobs(spark, lambda: prof.profile(df).collect()) <= 2
    assert _jobs(spark, lambda: prof.prune_low_quality(df)) <= 2
    assert _jobs(spark, lambda: prof.valid_columns(df)) <= 2


def test_robust_scale_approx_quartiles(spark):
    """The sketch path reads its quartiles from the column-keyed
    aggregation: below the 10k accuracy, the elements at rank ceil(q·n)."""
    from dataquality_ml_spark.ml.features import robust_scale

    df = spark.createDataFrame(
        [(float(v), v % 3, None) for v in range(1, 12)], "`x.y` double, n int, dead double"
    )
    out = robust_scale(df, ["x.y", "n", "dead"], exact=False).collect()
    # x.y in 1..11: q1 3, median 6, q3 9 → (v − 6) / 6
    assert sorted(r["x.y"] for r in out) == [(v - 6) / 6 for v in range(1, 12)]
    # n: 1,2,0,1,2,0,1,2,0,1,2 → q1 0, median 1, q3 2 → (v − 1) / 2
    assert sorted(r["n"] for r in out) == sorted((v % 3 - 1) / 2 for v in range(1, 12))
    assert all(r["dead"] is None for r in out)  # all-null: left untouched


def test_batched_thresholds_approx_aggregate_size_independent_of_column_count(
    spark, monkeypatch
):
    """batched_thresholds(exact=False) runs its quantile and MAD passes on
    the column-keyed relation: the same aggregate nodes for 2 and 20
    columns, not one percentile_approx per column. Any ``ps`` works."""
    from dataquality_ml_spark.operators.thresholds import batched_thresholds

    seen = []
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    collect = frame.collect

    def spy(self):
        seen.append(_aggregate_sizes(self))
        return collect(self)

    monkeypatch.setattr(frame, "collect", spy)

    def run(n_cols, ps=(0.9, 0.95)):
        seen.clear()
        df = spark.range(50).selectExpr(
            *[f"IF(id % 7 = 0, NULL, id * {k + 1}) AS c{k}" for k in range(n_cols)]
        )
        return df, batched_thresholds(df, df.columns, ps=ps, exact=False), list(seen)

    _, _, two = run(2)
    assert len(two) == 2 and all(two), two
    assert run(20)[2] == two

    df, got, _ = run(2, ps=(0.37, 0.61))
    monkeypatch.undo()
    for c in df.columns:
        want = df.agg(F.expr(f"percentile_approx({c}, array(0.37, 0.61))")).first()[0]
        assert [got[c]["p37"], got[c]["p61"]] == want, c
