"""The drift report's single path: every form of ``feature_drift_report``
tags one relation and builds one keyed ECDF; the ``split=`` forms equal
their two-frame forms; the two-frame report launches a fixed number of
Spark jobs; the best-effort fallbacks on the path log a warning; and
``iqr_threshold`` returns ``None`` for a column without a value."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from dataquality_ml_spark.operators import drift as dr
from dataquality_ml_spark.operators import profile as prof
from dataquality_ml_spark.operators import relational as rel
from dataquality_ml_spark.operators import thresholds as th


@pytest.fixture(scope="module")
def mixed(spark):
    """Numeric columns with NaN, NULL, ties and a constant, a categorical
    column with a NULL category, and a NULL-free split predicate."""
    rows = []
    for i in range(120):
        rows.append(
            (
                i % 3 == 0,
                float("nan") if i % 11 == 0 else (None if i % 13 == 0 else (i * 7 % 23) * 0.5),
                float(i % 5) if i % 3 else float(i % 9),
                2.5,
                None if i % 17 == 0 else ("a", "b", "c", "d")[(i * i) % (3 + (i % 3 == 0))],
                i % 4,
            )
        )
    df = spark.createDataFrame(rows, "p boolean, x double, y double, z double, s string, k int")
    return df, F.col("p")


def _same(a, b):
    """Identical schemas (nullability included) and rows."""
    assert a.schema == b.schema
    rows = lambda df: sorted((tuple(r) for r in df.collect()), key=repr)  # noqa: E731
    got, want = rows(a), rows(b)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        for name, u, v in zip(a.columns, g, w):
            if name == "ad_a2" and u is not None and v is not None:
                # a double sum: partial-aggregation order varies run to run
                assert u == pytest.approx(v, rel=1e-12), name
            else:
                assert repr(u) == repr(v), name


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"bins": 8},
        {"bins": 8, "bounds": {"x": (0.0, 12.0), "y": (-1.0, 9.0), "z": (0.0, 5.0)}},
        {"categorical_columns": ["s", "k"]},
    ],
    ids=["exact", "bins-inferred", "bins-bounds", "categorical"],
)
def test_feature_drift_report_split_equals_two_frame(mixed, kw):
    df, p = mixed
    cols = ["x", "y", "z"]
    _same(
        dr.feature_drift_report(df, None, cols, split=p, **kw),
        dr.feature_drift_report(df.where(p), df.where(~p), cols, **kw),
    )


def test_psi_bins_split_equals_two_frame(mixed):
    df, p = mixed
    _same(
        dr.psi_bins(df, None, "x", 0.0, 12.0, bins=6, split=p),
        dr.psi_bins(df.where(p), df.where(~p), "x", 0.0, 12.0, bins=6),
    )


@pytest.mark.parametrize(
    "form,kw",
    [
        ("two", {}),
        ("split", {}),
        ("two", {"bins": 8}),
        ("split", {"bins": 8}),
        ("two", {"bins": 8, "bounds": {"x": (0.0, 12.0), "y": (-1.0, 9.0)}}),
        ("two", {"categorical_columns": ["s"]}),
        ("split", {"categorical_columns": ["s"]}),
    ],
)
def test_every_report_form_builds_one_ecdf(mixed, monkeypatch, form, kw):
    """One tagged relation, one ``_ecdf_from_tagged`` call, and the
    two-frame helper ``_ecdf_counts`` is never used."""
    df, p = mixed
    calls = {"tagged": 0, "counts": 0}
    tagged, counts = dr._ecdf_from_tagged, dr._ecdf_counts

    def count_tagged(*a, **k):
        calls["tagged"] += 1
        return tagged(*a, **k)

    def count_counts(*a, **k):
        calls["counts"] += 1
        return counts(*a, **k)

    monkeypatch.setattr(dr, "_ecdf_from_tagged", count_tagged)
    monkeypatch.setattr(dr, "_ecdf_counts", count_counts)
    if form == "two":
        out = dr.feature_drift_report(df.where(p), df.where(~p), ["x", "y"], **kw)
    else:
        out = dr.feature_drift_report(df, None, ["x", "y"], split=p, **kw)
    assert out.count() == 2 + len(kw.get("categorical_columns", []))
    assert calls == {"tagged": 1, "counts": 0}


def test_feature_drift_report_tag_name_never_collides(spark):
    """A panel column named like the tag keeps its values."""
    df = spark.createDataFrame(
        [(float(i), float(i % 3), i % 2 == 0) for i in range(30)],
        "__in_a double, _x double, p boolean",
    )
    p, cols = F.col("p"), ["__in_a", "_x"]
    want = tuple(dr.ks_statistic(df.where(p), df.where(~p), "__in_a").first())
    for out in (
        dr.feature_drift_report(df.where(p), df.where(~p), cols),
        dr.feature_drift_report(df, None, cols, split=p),
    ):
        got = {r["column"]: r for r in out.collect()}
        assert (got["__in_a"]["ks_d"], got["__in_a"]["n_a"], got["__in_a"]["n_b"]) == want


def _telemetry_shaped(spark):
    exprs = ["CAST(id AS STRING) AS serial_number", "'m1' AS model"]
    for i in range(1, 19):
        exprs.append(f"IF(id % 5 = 0, CAST('NaN' AS DOUBLE), id * {i}.5D) AS smart_{i}_normalized")
        exprs.append(f"IF(id % 7 = 0, NULL, id * {i}) AS smart_{i}_raw")
    exprs += ["id * 1000 AS capacity_bytes", "CAST(id % 2 AS INT) AS failure"]
    return spark.range(8).selectExpr(*exprs)


def test_two_frame_report_job_count(spark):
    """The two-frame numeric report on the 38-column telemetry-shaped
    frame, built and collected, launches no more Spark jobs than when its
    two frames were melted and unioned separately (10)."""
    df = _telemetry_shaped(spark)
    cols = prof.numeric_columns(df)
    sc = spark.sparkContext
    group = "test_two_frame_report_job_count"
    sc.setJobGroup(group, group)
    try:
        ref, cur = df.where("failure = 0"), df.where("failure = 1")
        rows = dr.feature_drift_report(ref, cur, cols).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 38
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 10


class _NoPlan:
    """A JVM Dataset handle whose query execution cannot be read."""

    def __init__(self, jdf):
        self._jdf = jdf

    def queryExecution(self):
        raise RuntimeError("plan introspection unavailable")

    def __getattr__(self, name):
        return getattr(self._jdf, name)


def test_size_scaled_parallelism_fallback_warns(spark, caplog):
    df = spark.range(10)
    df._jdf = _NoPlan(df._jdf)
    with caplog.at_level(logging.WARNING, logger=rel.__name__):
        got = rel.size_scaled_parallelism(df)
    assert got == spark.sparkContext.defaultParallelism
    warned = [r for r in caplog.records if r.name == rel.__name__]
    assert len(warned) == 1 and "size_scaled_parallelism" in warned[0].getMessage()


def test_prefix_sum_plan_root_fallback_warns(spark, caplog):
    df = spark.range(20).selectExpr("id AS o", "id % 3 AS v")
    df._jdf = _NoPlan(df._jdf)
    with caplog.at_level(logging.WARNING, logger=rel.__name__):
        got = {r["o"]: r["_before"] for r in rel.exclusive_prefix_sum(df, "o", "v").collect()}
    assert got == {o: sum(i % 3 for i in range(o)) for o in range(20)}
    warned = [r for r in caplog.records if r.name == rel.__name__]
    assert len(warned) == 1 and "exclusive_prefix_sum" in warned[0].getMessage()


@pytest.mark.parametrize("exact", [True, False])
def test_iqr_threshold_all_null_column_is_none(spark, exact):
    df = spark.createDataFrame([(None,), (None,)], "v double")
    assert th.percentile_threshold(df, "v", 0.9, exact=exact) is None
    assert th.iqr_threshold(df, "v", exact=exact) is None


def test_keyed_cvm_one_sided_segment_is_null_on_both_paths(spark):
    """A segment with rows on one side only has no finite T: both the exact
    and the normalized-double path report NULL there, and agree on the
    two-sided segment."""
    a = spark.createDataFrame(
        [("both", float(i)) for i in range(6)] + [("solo", 1.0), ("solo", 2.0)],
        "g string, v double",
    )
    b = spark.createDataFrame(
        [("both", i + 0.5) for i in range(5)] + [("b_only", 3.0)], "g string, v double"
    )
    got = {
        exact: {r["g"]: r for r in dr.cvm_statistic(a, b, "v", keys=["g"], exact=exact).collect()}
        for exact in (True, False)
    }
    for exact in (True, False):
        assert set(got[exact]) == {"both", "solo", "b_only"}
        assert got[exact]["solo"]["cvm_t"] is None and got[exact]["b_only"]["cvm_t"] is None
    assert got[False]["both"]["cvm_t"] == pytest.approx(got[True]["both"]["cvm_t"], rel=1e-12)
    assert got[True]["both"]["cvm_t"] > 0
