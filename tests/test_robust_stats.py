"""Unit tests for the robust-stats / distribution-shape / collocation
operators added in the round-1 continuation: mad_robust_outliers,
categorical_entropy, bigram_pmi. Each asserts against hand-computed values
on fixtures small enough to verify by inspection."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dataquality_ml_spark.operators.profile import categorical_entropy
from dataquality_ml_spark.operators.text import bigram_pmi
from dataquality_ml_spark.operators.thresholds import mad_robust_outliers


# the group and value column names: plain, and the awkward names of
# test_plan_construction (a backtick, a quote, a dot, a backslash and a
# space), which every reference must quote
@pytest.mark.parametrize(
    "g,value", [("g", "value"), ("a `b'.c\\d", "sp ace")], ids=["plain", "awkward"]
)
def test_mad_robust_outliers_planted(spark, g, value):
    # Group "a": nine values tightly around 10 plus one wild outlier.
    # med = 10, MAD = median(|x-10|) = 1 → threshold 3.5*1.4826 ≈ 5.19;
    # only the planted 100.0 exceeds it.
    vals_a = [8.0, 9.0, 9.0, 10.0, 10.0, 10.0, 11.0, 11.0, 12.0, 100.0]
    # Group "b": constant — MAD 0, every deviation is 0 > 0 is false.
    vals_b = [5.0] * 6
    rows = [("a", v) for v in vals_a] + [("b", v) for v in vals_b]
    df = spark.createDataFrame(rows, [g, value])

    # the sketch medians are exact on ten values, so both paths agree
    for exact in (True, False):
        out = {r[g]: r for r in mad_robust_outliers(df, value, g, exact=exact).collect()}
        a, b = out["a"], out["b"]
        assert a["med"] == 10.0
        assert a["mad"] == 1.0
        assert a["n"] == 10
        assert a["n_outliers"] == 1
        assert b["mad"] == 0.0
        assert b["n_outliers"] == 0


def test_mad_approx_path_close_to_exact(spark):
    df = spark.range(0, 2000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 97).cast("double").alias("value"),
    )
    exact = {r["g"]: r for r in mad_robust_outliers(df, "value", "g").collect()}
    approx = {
        r["g"]: r for r in mad_robust_outliers(df, "value", "g", exact=False).collect()
    }
    for g in exact:
        assert abs(exact[g]["med"] - approx[g]["med"]) <= 2.0
        assert abs(exact[g]["mad"] - approx[g]["mad"]) <= 2.0


def test_categorical_entropy_uniform_and_constant(spark):
    # "u": 4 values uniform → entropy ln(4), gini 1 - 4*(1/4)^2 = 0.75.
    # "k": constant → entropy exactly -1*ln(1) = 0 (canonicalized), gini 0.
    rows = [(v, "only") for v in ("a", "b", "c", "d")]
    df = spark.createDataFrame(rows, ["u", "k"])
    out = {r["column"]: r for r in categorical_entropy(df, ["u", "k"]).collect()}
    assert out["u"]["n_distinct"] == 4
    assert abs(out["u"]["entropy"] - math.log(4)) < 1e-12
    assert abs(out["u"]["gini"] - 0.75) < 1e-12
    assert out["k"]["n_distinct"] == 1
    assert abs(out["k"]["entropy"]) < 1e-12
    assert abs(out["k"]["gini"]) < 1e-12


def test_categorical_entropy_counts_nulls_as_category(spark):
    df = spark.createDataFrame([("x",), ("x",), (None,)], ["c"])
    row = categorical_entropy(df, ["c"]).collect()[0]
    # null is a real category: distribution is (2/3, 1/3).
    p = [2 / 3, 1 / 3]
    assert row["n_distinct"] == 2
    assert abs(row["entropy"] - (-sum(q * math.log(q) for q in p))) < 1e-12


def test_bigram_pmi_hand_computed(spark):
    # Corpus: "a b" twice and "a c" once. Bigrams: (a b)×2, (a c)×1 → n_bi=3.
    # Unigrams: a×3, b×2, c×1 → n_uni=6.
    # PMI(a b) = ln((2/3) / ((3/6)*(2/6))) = ln(4) ; PMI(a c) = ln((1/3)/((1/2)*(1/6))) = ln(4).
    df = spark.createDataFrame([(1, "a b"), (2, "a b"), (3, "a c")], ["doc_id", "text"])
    out = {r["bigram"]: r for r in bigram_pmi(df, min_count=1, top_k=10).collect()}
    assert set(out) == {"a b", "a c"}
    assert out["a b"]["c_ab"] == 2
    assert abs(out["a b"]["pmi"] - round(math.log(4), 4)) < 1e-9
    assert abs(out["a c"]["pmi"] - round(math.log(4), 4)) < 1e-9


def test_bigram_pmi_short_docs_and_cut(spark):
    # Single-token docs produce no bigrams (guarded, no slice error); the
    # top-k cut is deterministic: ties on rounded PMI break by bigram asc.
    df = spark.createDataFrame(
        [(1, "solo"), (2, "x y"), (3, "x y"), (4, "p q"), (5, "p q")],
        ["doc_id", "text"],
    )
    out = bigram_pmi(df, min_count=1, top_k=1).collect()
    assert len(out) == 1
    # "p q" and "x y" have identical structure → identical PMI; "p q" < "x y".
    assert out[0]["bigram"] == "p q"


def test_exists_subqueries_decorrelate_to_semi_anti(spark):
    # The SQL-surface EXISTS / NOT EXISTS query must compile to semi/anti
    # hash joins — no per-row subquery execution in the physical plan.
    from dataquality_ml_spark.queries_ext import exists_urgent_no_fail

    plan = exists_urgent_no_fail(
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "Subquery" not in plan


def test_full_outer_join_preserves_unmatched_sides(spark):
    from dataquality_ml_spark.queries_ext import full_outer_nation_balance

    rows = full_outer_nation_balance(spark, "/root/testdata/sf0.01").collect()
    # The >9900 filter makes the sides sparse: at sf0.01 some nations have
    # rich customers but no rich supplier (and the join must keep them).
    assert any(r["n_rich_supp"] == 0 and r["n_rich_cust"] > 0 for r in rows)
    assert all(r["n_rich_supp"] > 0 or r["n_rich_cust"] > 0 for r in rows)


def test_batched_thresholds_matches_scalar_helpers_in_two_jobs(spark):
    """VERDICT r3 item 6 (amended round 8): the APPROX path still runs at
    most 2 Spark jobs (one column-keyed sketch aggregation + one MAD
    pass); the EXACT path routes through the histogram-refine selection
    (VERDICT r7 item 2), which is multi-job by design (stats + one scan
    per refinement level) — so the job-count pin applies to approx, and
    exact is pinned on VALUES (numpy linear interpolation, bit-equal)."""
    import numpy as np
    import pytest

    from dataquality_ml_spark.operators.thresholds import (
        batched_thresholds,
        iqr_threshold,
        percentile_threshold,
    )

    rng = np.random.default_rng(11)
    a = rng.normal(10, 2, 400)
    b = rng.exponential(3, 400)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(a, b)], "a double, b double"
    ).cache()
    df.count()  # materialize so the measured jobs are the threshold jobs

    sc = spark.sparkContext
    # AQE splits one query into one job per stage, which would hide the
    # scan count this test is about — turn it off so 1 job == 1 pass
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("batched-thresholds", "job-count check")
        batched_thresholds(df, ["a", "b"], ps=(0.9, 0.95), exact=False)
        jobs = sc.statusTracker().getJobIdsForGroup("batched-thresholds")
        sc.setJobGroup(None, None)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert len(jobs) <= 2

    got = batched_thresholds(df, ["a", "b"], ps=(0.9, 0.95))
    for c, arr in (("a", a), ("b", b)):
        assert got[c]["p90"] == pytest.approx(percentile_threshold(df, c, 0.9))
        assert got[c]["p95"] == pytest.approx(percentile_threshold(df, c, 0.95))
        assert got[c]["iqr_threshold"] == pytest.approx(iqr_threshold(df, c))
        med = float(np.percentile(arr, 50))
        assert got[c]["median"] == pytest.approx(med)
        assert got[c]["mad"] == pytest.approx(float(np.median(np.abs(arr - med))))
    df.unpersist()


def test_batched_thresholds_all_null_column(spark):
    from dataquality_ml_spark.operators.thresholds import batched_thresholds

    df = spark.createDataFrame(
        [(1.0, None), (2.0, None), (3.0, None)], "a double, b double"
    )
    got = batched_thresholds(df, ["a", "b"])
    assert got["a"]["median"] == 2.0 and got["a"]["mad"] == 1.0
    assert got["b"]["median"] is None and got["b"]["mad"] is None
