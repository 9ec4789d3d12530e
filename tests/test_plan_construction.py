"""Driver-side plan construction: the per-column operators and the feature
projection build their aggregations, melts and expressions from SQL text
(quoting of awkward column names, py4j round-trip budgets), the feature
pipeline, the drift reports, the single-column and keyed drift operators,
the entropy profile and the threshold and imputation helpers quote
awkward names too, the session turns off per-call origin capture, and the
dedup, text, similarity and sequence-detector pipelines leave no entries
in the session's CacheManager."""

from __future__ import annotations

import gc
import math
import os
import subprocess
import sys
import time

import numpy as np
import py4j.clientserver
import pyspark.errors.utils as origin_utils
import pytest
from pyspark.sql import functions as F

from dataquality_ml_spark.ml import features as feat
from dataquality_ml_spark.operators import drift as dr
from dataquality_ml_spark.operators import profile as prof
from dataquality_ml_spark.operators import thresholds as th

DEBUG_KEY = "spark.python.sql.dataFrameDebugging.enabled"

# one column name per awkward character class, plus one with all of them
SPACE, DOT, TICK, QUOTE, ALL = "sp ace", "do.t", "back`tick", "it's", "a `b'.c\\d"
COLS = [SPACE, DOT, TICK, QUOTE, ALL]


@pytest.fixture(scope="module")
def awkward(spark):
    """NaN-carrying double, int with zeros, all-null double, plain double,
    long with zeros and nulls — every name needs quoting in SQL text."""
    rows = []
    for i in range(40):
        rows.append(
            (
                float("nan") if i % 4 == 0 else (None if i % 7 == 0 else i * 0.5 - 3.0),
                None if i % 9 == 0 else i % 3,
                None,
                float(i * i) / 10.0,
                None if i % 5 == 1 else (0 if i % 2 == 0 else i),
            )
        )
    schema = (
        f"`{SPACE}` double, `{DOT}` int, `{TICK.replace('`', '``')}` double, "
        f"`{QUOTE}` double, `{ALL.replace('`', '``')}` bigint"
    )
    return spark.createDataFrame(rows, schema), rows


def _oracle(rows):
    """Per-column (n, valid values, non-null values sorted with NaN last)
    from the raw rows."""
    out = {}
    for j, c in enumerate(COLS):
        vals = [r[j] for r in rows if r[j] is not None]
        v = np.array([x for x in vals if x == x], dtype="float64")
        out[c] = (len(rows), v, sorted(vals, key=lambda x: (x != x, x if x == x else 0)))
    return out


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)


def test_profile_quotes_awkward_names(awkward):
    df, rows = awkward
    got = {r["column"]: r for r in prof.profile(df).collect()}
    assert list(got) == COLS
    for c, (n, v, raw) in _oracle(rows).items():
        r = got[c]
        assert r["n_rows"] == n and r["n_valid"] == len(v), c
        assert _close(r["null_frac"], 1 - len(v) / n), c
        assert _close(r["zero_frac"], float((v == 0).sum()) / n), c
        if len(v) == 0:
            assert all(r[s] is None for s in ("mean", "stddev", "min", "max", "p50")), c
            continue
        assert _close(r["mean"], float(v.mean())), c
        assert _close(r["stddev"], float(v.std(ddof=1))), c
        assert r["min"] == v.min() and r["max"] == v.max(), c
        # percentile_approx runs over the raw column (NaN sorts last) and,
        # below its 10k accuracy, returns the element at rank ceil(q·n)
        for q in prof.PROFILE_QUANTILES:
            want = raw[max(math.ceil(q * len(raw)) - 1, 0)]
            got_q = r[f"p{int(q * 100)}"]
            assert got_q == want or (math.isnan(want) and math.isnan(got_q)), (c, q)


def test_profile_exact_quantiles_quote_awkward_names(awkward):
    """The exact path splices the selected quantiles back in as DOUBLE
    literals; NaNs are excluded, so they match numpy's linear quantiles
    over the valid values."""
    df, rows = awkward
    got = {r["column"]: r for r in prof.profile(df, exact_quantiles=True).collect()}
    assert list(got) == COLS
    for c, (n, v, _raw) in _oracle(rows).items():
        assert got[c]["n_valid"] == len(v), c
        for q in prof.PROFILE_QUANTILES:
            want = float(np.quantile(v, q)) if len(v) else None
            assert _close(got[c][f"p{int(q * 100)}"], want), (c, q)


def test_prune_and_valid_columns_quote_awkward_names(awkward):
    df, rows = awkward
    ora = _oracle(rows)
    miss = {c: 1 - len(v) / n for c, (n, v, _raw) in ora.items()}
    zero = {c: float((v == 0).sum()) / n for c, (n, v, _raw) in ora.items()}
    for mz, mm in ((0.95, 0.95), (0.3, 0.3), (0.1, 0.5)):
        want = [c for c in COLS if miss[c] <= mm and zero[c] <= mz]
        assert prof.prune_low_quality(df, max_zero_frac=mz, max_missing_frac=mm) == want
    for k in (1, 20, 30, 40):
        want = [c for c in COLS if len(ora[c][1]) >= k]
        assert prof.valid_columns(df, min_valid=k) == want


@pytest.mark.parametrize("strategy", ["mean", "median"])
def test_fit_features_quotes_awkward_names(awkward, strategy):
    df, rows = awkward
    ora = _oracle(rows)
    # median over the raw column: the NaN column would sort NaN into it
    num = [DOT, TICK, QUOTE, ALL] if strategy == "median" else [SPACE, DOT, TICK, QUOTE, ALL]
    model = feat.fit_features(
        df,
        roles={"numeric": num, "categorical": [], "boolean": []},
        label_col=None,
        strategy=strategy,
    )
    assert model.numeric_cols == [c for c in num if c != TICK]  # all-null dropped
    for c in model.numeric_cols:
        v = ora[c][1]
        assert _close(model.mean[c], float(v.mean())), c
        assert _close(model.std[c], float(v.std(ddof=1))), c
        want = float(np.median(v)) if strategy == "median" else float(v.mean())
        assert _close(model.impute[c], want), c


def _key(x):
    """A raw value as its category: NULL and NaN are categories too."""
    if x is None:
        return None
    return "nan" if x != x else float(x)


def _categories(rows, j):
    out: dict = {}
    for r in rows:
        out[_key(r[j])] = out.get(_key(r[j]), 0) + 1
    return out


def _split(rows):
    """Rows on each side of ``DOT = 1`` (a NULL ``DOT`` is on neither)."""
    j = COLS.index(DOT)
    return [r for r in rows if r[j] == 1], [r for r in rows if r[j] is not None and r[j] != 1]


@pytest.mark.parametrize("form", ["two-frame", "split"])
def test_feature_drift_report_quotes_awkward_names(awkward, form):
    df, rows = awkward
    is_one = F.col(prof._ident(DOT)) == 1
    if form == "split":
        out = dr.feature_drift_report(df, None, COLS, split=is_one)
    else:
        out = dr.feature_drift_report(df.where(is_one), df.where(~is_one), COLS)
    got = {r["column"]: r for r in out.collect()}
    side_a, side_b = _split(rows)
    want = {}
    for j, c in enumerate(COLS):
        a = np.sort([r[j] for r in side_a if r[j] is not None and r[j] == r[j]])
        b = np.sort([r[j] for r in side_b if r[j] is not None and r[j] == r[j]])
        if len(a) and len(b):
            x = np.concatenate([a, b])
            fa = np.searchsorted(a, x, side="right") / len(a)
            fb = np.searchsorted(b, x, side="right") / len(b)
            want[c] = (float(np.abs(fa - fb).max()), len(a), len(b))
    assert set(got) == set(want) == set(COLS) - {TICK}  # the all-null column has no rows
    for c, (ks_d, n_a, n_b) in want.items():
        assert (got[c]["n_a"], got[c]["n_b"]) == (n_a, n_b), c
        assert _close(got[c]["ks_d"], ks_d), c


def test_categorical_drift_report_quotes_awkward_names(awkward):
    df, rows = awkward
    is_one = F.col(prof._ident(DOT)) == 1
    got = {
        r["column"]: r
        for r in dr.categorical_drift_report(df.where(is_one), df.where(~is_one), COLS).collect()
    }
    assert set(got) == set(COLS)
    side_a, side_b = _split(rows)
    for j, c in enumerate(COLS):
        ca, cb = _categories(side_a, j), _categories(side_b, j)
        cats = list(set(ca) | set(cb))
        r = np.array([ca.get(k, 0) for k in cats], dtype="float64")
        u = np.array([cb.get(k, 0) for k in cats], dtype="float64")
        p, q = r / r.sum(), u / u.sum()
        pr, pq = np.maximum(p, dr.EPS), np.maximum(q, dr.EPS)
        m = (p + q) / 2
        jsd = (np.sum(p[p > 0] * np.log(p[p > 0] / m[p > 0]))
               + np.sum(q[q > 0] * np.log(q[q > 0] / m[q > 0]))) / 2
        n = r.sum() + u.sum()
        e_r, e_u = (r + u) * r.sum() / n, (r + u) * u.sum() / n
        chi2 = np.sum((r - e_r) ** 2 / e_r) + np.sum((u - e_u) ** 2 / e_u)
        assert (got[c]["n_a"], got[c]["n_b"]) == (len(side_a), len(side_b)), c
        assert _close(got[c]["psi"], float(np.sum((pq - pr) * np.log(pq / pr)))), c
        assert _close(got[c]["jsd"], float(jsd)), c
        assert _close(got[c]["chi2"], float(chi2)), c


def test_categorical_entropy_quotes_awkward_names(awkward):
    df, rows = awkward
    got = {r["column"]: r for r in prof.categorical_entropy(df, COLS).collect()}
    assert set(got) == set(COLS)
    for j, c in enumerate(COLS):
        p = np.array(list(_categories(rows, j).values()), dtype="float64") / len(rows)
        assert got[c]["n_distinct"] == len(p), c
        assert _close(got[c]["entropy"], float(-np.sum(p * np.log(p)))), c
        assert _close(got[c]["gini"], float(1 - np.sum(p * p))), c


def test_impute_median_quotes_awkward_names(awkward):
    """Nulls take the exact median of the valid values; NaN is a value,
    not a null, so it stays; the all-null column stays null."""
    df, rows = awkward
    got = th.impute_median(df, COLS, exact=True).collect()
    assert len(got) == len(rows)
    for j, c in enumerate(COLS):
        v = _oracle(rows)[c][1]
        med = float(np.median(v)) if len(v) else None
        for r, g in zip(rows, got):
            want = med if r[j] is None else r[j]
            assert g[c] == want or (want != want and g[c] != g[c]), (c, r[j], g[c])


def _approx(raw, q):
    """``percentile_approx`` below its 10k accuracy: the element at rank
    ceil(q·n) of the non-null values, NaN sorting last."""
    return raw[max(math.ceil(q * len(raw)) - 1, 0)] if raw else None


def _same(a, b):
    """Equal, with NaN equal to NaN and None only to None."""
    if a is None or b is None:
        return a is None and b is None
    return a == b or (a != a and b != b)


def _spark_clip(x, lo, hi):
    """greatest(lo, least(hi, x)): NULL arguments are skipped and NaN is
    larger than every other double."""
    def key(v):
        return (v != v, v if v == v else 0)

    def pick(f, *vals):
        vals = [v for v in vals if v is not None]
        return f(vals, key=key) if vals else None

    return pick(max, lo, pick(min, hi, x))


def test_approx_thresholds_quote_awkward_names(awkward):
    """percentile_threshold, iqr_threshold and clip_outliers on their
    sketch paths splice the column into ``percentile_approx`` text."""
    df, rows = awkward
    for c, (_n, _v, raw) in _oracle(rows).items():
        got = th.percentile_threshold(df, c, 0.9, exact=False)
        assert _same(got, _approx(raw, 0.9)), c
        if raw:
            q1, q3 = _approx(raw, 0.25), _approx(raw, 0.75)
            assert _same(th.iqr_threshold(df, c, k=1.5, exact=False), q3 + 1.5 * (q3 - q1)), c
        lo, hi = _approx(raw, 0.1), _approx(raw, 0.9)
        clipped = th.clip_outliers(df, c, 0.1, 0.9, exact=False)
        assert clipped.columns == df.columns, c
        j = COLS.index(c)
        for r, g in zip(rows, clipped.collect()):
            assert _same(g[c], _spark_clip(r[j], lo, hi)), (c, r[j], g[c])


def test_impute_mean_quotes_awkward_names(awkward):
    """Nulls take the mean of the non-null values (a NaN makes it NaN);
    the all-null column stays null."""
    df, rows = awkward
    got = th.impute_mean(df, COLS).collect()
    assert len(got) == len(rows)
    for j, c in enumerate(COLS):
        vals = [r[j] for r in rows if r[j] is not None]
        mean = float(np.mean(vals)) if vals else None
        for r, g in zip(rows, got):
            want = mean if r[j] is None else r[j]
            assert _same(g[c], want) or _close(g[c], want), (c, r[j], g[c])


def test_binned_feature_drift_report_drops_all_null_column(awkward):
    """A column without a value drops out of the binned panel whether its
    bounds are inferred from two frames or from one tagged scan, as it
    does unbinned."""
    df, _rows = awkward
    is_one = F.col(prof._ident(DOT)) == 1
    a, b = df.where(is_one), df.where(~is_one)
    got = [
        {r["column"] for r in out.collect()}
        for out in (
            dr.feature_drift_report(a, b, COLS),
            dr.feature_drift_report(a, b, COLS, bins=8),
            dr.feature_drift_report(df, None, COLS, bins=8, split=is_one),
        )
    ]
    assert got == [set(COLS) - {TICK}] * 3


def _two_sample_oracle(a, b):
    """KS D, Mann-Whitney U, CvM T and Anderson-Darling A² (Scholz &
    Stephens, tie-aware) of two samples, from their distinct pooled
    values."""
    x = np.unique(np.concatenate([a, b]))
    na_v = np.array([(a == v).sum() for v in x], dtype="float64")
    nb_v = np.array([(b == v).sum() for v in x], dtype="float64")
    ca, cb = np.cumsum(na_v), np.cumsum(nb_v)
    ta, tb = float(len(a)), float(len(b))
    n = ta + tb
    cnt = na_v + nb_v
    u = float(np.sum(na_v * (ca + cb - cnt + (cnt + 1) / 2)) - ta * (ta + 1) / 2)
    cvm = float(np.sum(cnt * (ca * tb - cb * ta) ** 2)) / (n * n * ta * tb)
    bb = ca + cb - cnt / 2
    den = bb * (n - bb) - n * cnt / 4
    inner = 0.0
    for c, nv, t in ((ca, na_v, ta), (cb, nb_v, tb)):
        g = n * (c - nv / 2) - t * bb
        inner += float(np.sum(np.where(den > 0, cnt / n * g * g / np.where(den > 0, den, 1) / t, 0.0)))
    return {
        "ks_d": float(np.abs(ca / ta - cb / tb).max()),
        "u_stat": u,
        "cvm_t": cvm,
        "ad_a2": (n - 1) / n * inner,
        "n_a": len(a),
        "n_b": len(b),
    }


def test_single_column_drift_operators_quote_awkward_names(awkward):
    """KS, CvM, rank-sum, Anderson-Darling, the panel, the Q-Q table and
    PSI on a column whose name needs quoting, against numpy over the
    non-null values of each side (NaN-free columns: these operators rank
    NaN as a value)."""
    df, rows = awkward
    is_one = F.col(prof._ident(DOT)) == 1
    a, b = df.where(is_one), df.where(~is_one)
    side_a, side_b = _split(rows)
    for c in (DOT, QUOTE, ALL):
        j = COLS.index(c)
        va = np.array([r[j] for r in side_a if r[j] is not None], dtype="float64")
        vb = np.array([r[j] for r in side_b if r[j] is not None], dtype="float64")
        want = _two_sample_oracle(va, vb)
        got = {
            **dr.ks_statistic(a, b, c).first().asDict(),
            **dr.cvm_statistic(a, b, c).first().asDict(),
            **dr.rank_sum_test(a, b, c).first().asDict(),
            **dr.anderson_darling(a, b, c).first().asDict(),
        }
        panel = dr.drift_panel(a, b, c).first().asDict()
        for name, w in want.items():
            assert _close(got[name], w), (c, name, got[name], w)
            assert _close(panel[name], w), (c, name, panel[name], w)
        qs = (0.25, 0.5, 0.9)
        for r in dr.qq_table(a, b, c, qs=qs).collect():
            assert _close(r["val_a"], float(np.quantile(va, r["q"]))), (c, r["q"])
            assert _close(r["val_b"], float(np.quantile(vb, r["q"]))), (c, r["q"])
        lo, hi, bins = -1.0, 50.0, 5
        p = []
        for v in (va, vb):
            ids = np.clip(np.floor((v - lo) / ((hi - lo) / bins)), 0, bins - 1).astype(int)
            p.append(np.maximum(np.bincount(ids, minlength=bins) / len(v), dr.EPS))
        psi = [r["psi_term"] for r in dr.psi_bins(a, b, c, lo, hi, bins).collect()]
        assert np.allclose(psi, (p[1] - p[0]) * np.log(p[1] / p[0]), rtol=1e-12, atol=1e-12), c


_KEYED = {
    "corr_drift": lambda a, b, keys: dr.corr_drift(a, b, "x", "y", keys=keys),
    "cusum_changepoint": lambda a, b, keys: dr.cusum_changepoint(a, "ts", "x", keys=keys),
    "ewma_control": lambda a, b, keys: dr.ewma_control(a, "batch", "x", keys=keys),
    "acf_ljung_box": lambda a, b, keys: dr.acf_ljung_box(a, "batch", "x", max_lag=2, keys=keys),
}


@pytest.mark.parametrize("op", sorted(_KEYED))
def test_keyed_drift_operators_quote_awkward_key(spark, op):
    """corr_drift, cusum_changepoint, ewma_control and acf_ljung_box with
    ``keys=[ALL]`` return the rows they return for the same key named
    ``g``, under the awkward name."""
    import datetime

    def frame(key, shift):
        rows = [
            (
                ("s1", None, "s2")[i % 3],
                datetime.datetime(2024, 1, 1 + i % 6),
                i // 3,
                float((i * 7 + shift) % 11),
                float((i * 5) % 13),
            )
            for i in range(36)
        ]
        name = key.replace("`", "``")
        return spark.createDataFrame(
            rows, f"`{name}` string, ts timestamp, batch bigint, x double, y double"
        )

    def rows(key):
        out = _KEYED[op](frame(key, 0), frame(key, 3), [key])
        assert out.columns[0] == key
        return sorted((tuple(r) for r in out.collect()), key=repr)

    plain = rows("g")
    assert len(plain) >= 3
    assert rows(ALL) == plain


def _telemetry_shaped(spark):
    """38 numeric columns like a telemetry_batch snapshot (SMART
    normalized doubles with NaN, raw longs, capacity) plus string keys."""
    exprs = ["CAST(id AS STRING) AS serial_number", "'m1' AS model"]
    for i in range(1, 19):
        exprs.append(f"IF(id % 5 = 0, CAST('NaN' AS DOUBLE), id * {i}.5D) AS smart_{i}_normalized")
        exprs.append(f"IF(id % 7 = 0, NULL, id * {i}) AS smart_{i}_raw")
    exprs += ["id * 1000 AS capacity_bytes", "CAST(id % 2 AS INT) AS failure"]
    df = spark.range(8).selectExpr(*exprs)
    assert len(prof.numeric_columns(df)) == 38
    return df


def _count_sends(spark, monkeypatch):
    """Count the py4j commands sent, from any thread, until ``monkeypatch``
    is undone. py4j's finalizer thread sends one memory-delete command per
    freed Java proxy, at its own pace; earlier garbage is drained first, so
    the window holds the measured call's round trips and the deletes for
    the proxies it frees, not those of proxies freed before it opened."""
    gc.collect()
    pending = spark.sparkContext._gateway._gateway_client.finalizer_deque
    deadline = time.monotonic() + 30
    while pending and time.monotonic() < deadline:
        time.sleep(0.05)
    assert not pending, len(pending)
    calls = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    return calls


@pytest.mark.parametrize("debugging", [True, False])
def test_profile_plan_py4j_budget(spark, monkeypatch, debugging):
    """Building profile()'s plan costs O(1) py4j round trips per column,
    whether or not PySpark captures per-call origins (plain sessions,
    like the driver contract's, keep it on)."""
    df = _telemetry_shaped(spark)
    monkeypatch.setattr(origin_utils, "_enable_debugging_cache", debugging)
    calls = _count_sends(spark, monkeypatch)
    out = prof.profile(df)
    monkeypatch.undo()
    assert calls[0] > 0  # the counter sees the gateway's traffic
    assert calls[0] <= 1000, calls[0]
    assert out.count() == 38


@pytest.mark.parametrize("debugging,budget", [(True, 6000), (False, 2000)])
def test_feature_drift_report_py4j_budget(spark, monkeypatch, debugging, budget):
    """Building the two-frame drift panel on 38 columns: one SQL-text melt
    of one tagged union, not one ``Column`` struct per column. Measured
    ~970 round trips with origin capture on and ~540 off; with a
    ``Column``-API melt, ~9,200 and ~3,200."""
    df = _telemetry_shaped(spark)
    cols = prof.numeric_columns(df)
    ref, cur = df.where("failure = 0"), df.where("failure = 1")
    monkeypatch.setattr(origin_utils, "_enable_debugging_cache", debugging)
    calls = _count_sends(spark, monkeypatch)
    out = dr.feature_drift_report(ref, cur, cols)
    monkeypatch.undo()
    assert calls[0] > 0
    assert calls[0] <= budget, calls[0]
    assert out.count() == 38


@pytest.mark.parametrize("debugging", [True, False])
def test_drift_panel_py4j_budget(spark, monkeypatch, debugging):
    """Building the panel over a prebuilt 38-key ECDF: its terms,
    aggregates and finishing projection are SQL text, ~75 round trips
    either way. ``Column`` trees took ~470 with origin capture off and
    ~2,400 on."""
    df = _telemetry_shaped(spark)
    cols = prof.numeric_columns(df)
    long = df.selectExpr(
        "failure AS in_a", prof._melt_sql(cols, column="{name}", v="CAST({col} AS DOUBLE)")
    ).where("v IS NOT NULL AND NOT isnan(v)")
    ecdf = dr._ecdf_from_tagged(long, ["column"], bounded=False).localCheckpoint(eager=True)
    monkeypatch.setattr(origin_utils, "_enable_debugging_cache", debugging)
    calls = _count_sends(spark, monkeypatch)
    out = dr.drift_panel(None, None, "v", keys=["column"], ecdf=ecdf)
    monkeypatch.undo()
    assert calls[0] > 0
    assert calls[0] <= 100, calls[0]
    assert out.count() == 38


@pytest.mark.parametrize("debugging", [True, False])
def test_apply_features_py4j_budget(spark, monkeypatch, debugging):
    """Building the feature projection on the 38-column frame plus a
    40-category column and a boolean: SQL text, ~50 round trips either
    way. A ``Column``-API build (one ``when`` per category, one node per
    operator) took ~1,950 with origin capture off and ~7,700 on."""
    df = _telemetry_shaped(spark).withColumns(
        {"model_40": F.expr("concat('m', serial_number)"), "flag": F.expr("failure = 0")}
    )
    num = prof.numeric_columns(df)
    model = feat.FeatureModel(
        numeric_cols=num,
        bool_cols=["flag"],
        categorical_cols=["model_40"],
        impute={c: 1.5 for c in num},
        mean={c: 2.0 for c in num},
        std={c: 3.0 for c in num},
        categories={"model_40": [f"m{i}" for i in range(40)]},
    )
    monkeypatch.setattr(origin_utils, "_enable_debugging_cache", debugging)
    calls = _count_sends(spark, monkeypatch)
    out = feat.apply_features(df, model)
    monkeypatch.undo()
    assert calls[0] > 0
    assert calls[0] <= 200, calls[0]
    got = {r["serial_number"]: r["features"] for r in out.collect()}
    assert len(got) == 8 and all(len(v) == 40 for v in got.values())
    assert [got[str(i)][0] for i in range(8)] == [float(i) for i in range(8)]


def test_apply_features_replaces_existing_out_column(spark):
    """``out`` follows ``withColumn``: a column of that name is replaced in
    place, not duplicated."""
    df = spark.createDataFrame([(1.0, "a", 7), (3.0, "b", 8)], "x double, c string, features int")
    model = feat.FeatureModel(
        numeric_cols=["x"], categorical_cols=["c"], impute={"x": 2.0},
        mean={"x": 2.0}, std={"x": 1.0}, categories={"c": ["b", "a"]},
    )
    out = feat.apply_features(df, model, out="features")
    assert out.columns == ["x", "c", "features", "c_idx", "x_scaled"]
    assert out.schema["features"].dataType.simpleString() == "array<double>"
    got = sorted(tuple(r["features"]) for r in out.collect())
    assert got == [(0.0, 1.0), (1.0, -1.0)]
    # a source column named like the output, via a non-default out
    again = feat.apply_features(df, model, out="c")
    assert again.columns == ["x", "c", "features", "c_idx", "x_scaled"]
    assert sorted(tuple(r["c"]) for r in again.collect()) == got


def test_session_turns_off_origin_capture(spark):
    """get_spark() sets the flag; extra_conf can turn it back on. It is a
    static conf, fixed when the JVM starts, so the "true" case needs a
    fresh process."""
    assert spark.conf.get(DEBUG_KEY) == "false"
    code = (
        "from dataquality_ml_spark import get_spark\n"
        "s = get_spark('dq-debug', master='local[1]', shuffle_partitions=1,\n"
        f"              extra_conf={{'{DEBUG_KEY}': 'true', 'spark.driver.memory': '512m'}})\n"
        f"print('VALUE=' + s.conf.get('{DEBUG_KEY}'))\n"
        "s.stop()\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, timeout=300
    )
    assert "VALUE=true" in out.stdout, out.stderr[-2000:]


def test_dedup_pipelines_leave_no_cache_entries(spark):
    from dataquality_ml_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog again!"),
            (3, "completely different words appear in this third document"),
        ],
        "doc_id bigint, text string",
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # other tests' cached frames are not ours
    first = dd.minhash_dedup_pairs(docs, k=3, threshold=0.5).collect()
    second = dd.minhash_dedup_pairs(docs, k=3, threshold=0.5).collect()
    prefix = dd.prefix_filter_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in first] == [(1, 2)]
    assert first == second
    assert [(r["id_a"], r["id_b"]) for r in prefix] == [(1, 2)]
    assert cache.isEmpty()


@pytest.mark.parametrize("cutoff", [100, 1])
def test_fit_and_apply_features_quote_awkward_names(spark, cutoff):
    """A dotted numeric column and a backticked categorical column, through
    both categorical encodings (CASE expression, and the broadcast join above
    ``broadcast_cutoff``)."""
    rows = [(1.0, "a"), (3.0, "b"), (None, "a"), (float("nan"), None), (5.0, "c")]
    df = spark.createDataFrame(rows, f"`{DOT}` double, `{TICK.replace('`', '``')}` string")
    model = feat.fit_features(
        df, roles={"numeric": [DOT], "categorical": [TICK], "boolean": []}, label_col=None
    )
    assert model.numeric_cols == [DOT] and model.categorical_cols == [TICK]
    assert model.categories[TICK] == ["a", "b", "c"]
    assert _close(model.mean[DOT], 3.0) and _close(model.std[DOT], 2.0)

    got = feat.apply_features(df, model, broadcast_cutoff=cutoff).collect()
    assert len(got) == len(rows)
    by_key = {(r[DOT] if r[DOT] == r[DOT] else "nan", r[TICK]): r["features"] for r in got}
    # [category index, (value or imputed mean − mean) / std]
    assert by_key[(1.0, "a")] == [0.0, -1.0]
    assert by_key[(None, "a")] == [0.0, 0.0]
    assert by_key[("nan", None)] == [3.0, 0.0]  # null category → the keep bucket
    assert by_key[(5.0, "c")] == [2.0, 1.0]
    kept = feat.apply_features(df, model, mode="skip", broadcast_cutoff=cutoff)
    assert sorted(r[DOT] for r in kept.collect()) == [1.0, 3.0, 5.0]


def test_text_and_similarity_operators_leave_no_cache_entries(spark):
    import random

    from dataquality_ml_spark.operators.similarity import rhp_near_dup_pairs
    from dataquality_ml_spark.operators.text import bigram_pmi, unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "a b"), (3, "the quick fox")], "doc_id bigint, text string"
    )
    rng = random.Random(3)
    base = [rng.gauss(0, 1) for _ in range(64)]
    vecs = spark.createDataFrame(
        [(0, base), (1, [v + 0.001 for v in base])]
        + [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(2, 12)],
        "vec_id long, embedding array<float>",
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # other tests' cached frames are not ours
    for _ in range(2):
        uni = {r["doc_id"]: r["n_tokens"] for r in unigram_logprob(docs).collect()}
        pmi = {r["bigram"]: r["c_ab"] for r in bigram_pmi(docs, min_count=1).collect()}
        pairs = [(r["id_a"], r["id_b"]) for r in rhp_near_dup_pairs(vecs, threshold=0.9).collect()]
        assert uni == {1: 4, 2: 2, 3: 3}
        assert pmi["a b"] == 2
        assert (0, 1) in pairs
    assert cache.isEmpty()


def test_failed_sequence_fit_leaves_no_cache_entries(spark):
    """An unknown detector raises after the windowed relation is built; it
    must not leave a CacheManager entry behind."""
    from dataquality_ml_spark.engine import DQEngine

    df = spark.createDataFrame(
        [(k, t, float(t * k), 0) for k in range(3) for t in range(8)],
        "k bigint, ts bigint, v double, failure int",
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # other tests' cached frames are not ours
    with pytest.raises(ValueError, match="unknown sequence detector"):
        DQEngine(spark).fit_sequence_detector(
            df, key="k", order="ts", features="v", timesteps=3, detector="nope"
        )
    assert cache.isEmpty()
