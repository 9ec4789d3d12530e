"""Feature-pipeline and detector semantics tests (SURVEY.md §5 item 2):
imputation values, indexer frequency order + unseen handling, keep-vs-skip
row behavior, scaler stats — asserted against hand-computed fixtures."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataquality_ml_spark.ml import augment as aug
from dataquality_ml_spark.ml import detectors as det
from dataquality_ml_spark.ml import features as feat


@pytest.fixture(scope="module")
def telemetry(spark):
    """Mini drive-telemetry fixture (FIXTURES.md fixture 1): nulls, NaN,
    an all-null column, categorical with a clear frequency order."""
    rows = [
        # (serial, model, smart_1, smart_2, smart_dead, failure)
        ("a", "m1", 1.0, 10.0, None, 0),
        ("b", "m1", 2.0, None, None, 0),
        ("c", "m2", 3.0, 30.0, None, 0),
        ("d", "m1", 4.0, float("nan"), None, 0),
        ("e", "m3", None, 50.0, None, 1),
    ]
    return spark.createDataFrame(
        rows, "serial string, model string, smart_1 double, smart_2 double, smart_dead double, failure int"
    )


def test_fit_features_stats(telemetry):
    model = feat.fit_features(
        telemetry,
        roles={"numeric": ["smart_1", "smart_2", "smart_dead"], "categorical": ["model"], "boolean": []},
        label_col="failure",
    )
    # all-null column auto-dropped (reference lib/utils.py:187-199)
    assert "smart_dead" not in model.numeric_cols
    # mean over valid values only: smart_1 = (1+2+3+4)/4
    assert model.impute["smart_1"] == pytest.approx(2.5)
    # NaN excluded like null: smart_2 = (10+30+50)/3
    assert model.impute["smart_2"] == pytest.approx(30.0)
    # frequency order: m1(3) > m2(1) = m3(1) → tie by value
    assert model.categories["model"] == ["m1", "m2", "m3"]


def test_apply_features_keep_vs_skip(telemetry):
    model = feat.fit_features(
        telemetry,
        roles={"numeric": ["smart_1", "smart_2"], "categorical": ["model"], "boolean": []},
        label_col="failure",
    )
    kept = feat.apply_features(telemetry, model, mode="keep")
    assert kept.count() == 5  # keep imputes, drops nothing
    skipped = feat.apply_features(telemetry, model, mode="skip")
    # rows b (null smart_2), d (NaN smart_2), e (null smart_1) dropped —
    # the assembler handleInvalid="skip" silent row-drop (M3)
    assert skipped.count() == 2

    row_a = kept.where(F.col("serial") == "a").first()
    # z-score: (1.0 - 2.5) / std([1,2,3,4]) = -1.5 / 1.2909944...
    assert row_a["smart_1_scaled"] == pytest.approx(-1.1618, abs=1e-4)
    # model=m1 → idx 0
    assert row_a["model_idx"] == 0.0
    # imputed NaN row: smart_2 of d → mean 30 → scaled 0
    row_d = kept.where(F.col("serial") == "d").first()
    assert row_d["smart_2_scaled"] == pytest.approx(0.0)


def test_apply_features_unseen_category(spark, telemetry):
    model = feat.fit_features(
        telemetry,
        roles={"numeric": ["smart_1"], "categorical": ["model"], "boolean": []},
        label_col="failure",
    )
    test_df = spark.createDataFrame(
        [("z", "m_new", 1.0, None, None, 0)],
        "serial string, model string, smart_1 double, smart_2 double, smart_dead double, failure int",
    )
    out = feat.apply_features(test_df, model, mode="keep").first()
    # unseen → the extra "keep" bucket = n_categories (StringIndexer
    # handleInvalid="keep", reference lib/utils.py:206)
    assert out["model_idx"] == 3.0


def test_feature_model_roundtrip(telemetry, tmp_path):
    model = feat.fit_features(telemetry, label_col="failure")
    path = str(tmp_path / "model.json")
    feat.save_model(model, path)
    loaded = feat.load_model(path)
    assert loaded == model


def test_pca_ae_detects_planted_outlier(spark):
    rng = np.random.default_rng(0)
    base = rng.normal(0, 1, size=(500, 4))
    base[:, 1] = base[:, 0] * 2 + rng.normal(0, 0.01, 500)  # low-rank structure
    planted = np.array([[8.0, -16.0, 0.0, 0.0]])  # breaks the correlation
    x = np.vstack([base, planted])
    ae = det.PCAAutoencoder.fit(x[:-1], n_components=2)
    errs = ae.reconstruction_error(x)
    assert errs[-1] > np.percentile(errs[:-1], 99)


def test_iforest_detects_planted_outlier(spark):
    rng = np.random.default_rng(1)
    x = rng.normal(0, 1, size=(1000, 3))
    x[-1] = [10, 10, 10]
    forest = det.IsolationForest(n_estimators=50, max_samples=256, seed=42).fit(x)
    s = forest.score_samples(x)
    assert s[-1] == max(s)
    # deterministic under the seed
    s2 = det.IsolationForest(n_estimators=50, max_samples=256, seed=42).fit(x).score_samples(x)
    assert np.allclose(s, s2)


def test_iforest_chunked_descent_bit_identical():
    """The round-14 preallocated-buffer chunked descent must reproduce the
    unchunked (T, n)-matrix form BIT-identically at any chunk size,
    including chunks that don't divide the row count."""
    rng = np.random.default_rng(7)
    x = rng.normal(size=(1003, 5))
    x[:9] += 7.0
    f = det.IsolationForest(n_estimators=40, max_samples=128, seed=3).fit(x)

    # reference: the pre-round-14 all-rows descent, replayed verbatim
    offs, feat_a, split_a, left_a, right_a, size_a = f._pack()
    n = len(x)
    rows = np.arange(n, dtype=np.int32)
    node = np.repeat(offs[:, None], n, axis=1)
    depth = np.zeros((len(offs), n))
    for _ in range(f.height_limit + 1):
        feat = feat_a[node]
        internal = feat >= 0
        if not internal.any():
            break
        vals = x[rows[None, :], np.where(internal, feat, 0)]
        go_left = vals < split_a[node]
        nxt = np.where(go_left, left_a[node], right_a[node])
        node = np.where(internal, nxt, node)
        depth += internal
    depth += f._c_table[size_a[node]]
    ref = depth.sum(axis=0) / f.n_estimators

    for chunk in (4096, 257, 1003, 1):
        got = f.path_lengths(x, chunk=chunk)
        assert np.array_equal(ref, got), chunk
    assert f.path_lengths(x[:0]).shape == (0,)


def test_score_distributed_matches_local(spark):
    rng = np.random.default_rng(2)
    x = rng.normal(0, 1, size=(200, 3))
    ae = det.PCAAutoencoder.fit(x, n_components=2)
    local = ae.reconstruction_error(x)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)], "id long, features array<double>"
    )
    dist = {r["id"]: r["score"] for r in det.score_distributed(df, ae).collect()}
    for i in range(200):
        assert math.isclose(dist[i], local[i], rel_tol=1e-9)


def test_smote_counts_and_range(spark):
    df = spark.createDataFrame(
        [(float(i), "maj") for i in range(100)] + [(0.0, "min"), (10.0, "min"), (20.0, "min")],
        "value double, label string",
    )
    out = aug.smote_oversample(df, "label", "min", 10, ["value"], seed=42)
    counts = {r["label"]: r["n"] for r in out.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"maj": 100, "min": 10}
    # synthetic values interpolate existing minority points
    vals = [r["value"] for r in out.where(F.col("label") == "min").collect()]
    assert all(0.0 <= v <= 20.0 for v in vals)


def test_smote_scale_contract(spark):
    """Round-10: the minority collect is capped with a loud on-overflow
    contract (the fit_features pattern) and synthesis runs executor-side.
    (1) under the cap, results are identical whatever the cap is;
    (2) over the cap, the default raises instead of OOMing;
    (3) on_overflow='sample' still tops the class up to target_count and
        interpolates inside the minority hull;
    (4) same seed → bit-identical synthesis (counter-based hash, not a
        partitioning-dependent RNG)."""
    import pytest

    df = spark.createDataFrame(
        [(float(i), "maj") for i in range(50)]
        + [(float(10 * i), "min") for i in range(20)],
        "value double, label string",
    )

    def synth_vals(out):
        return sorted(
            r["value"] for r in out.where(F.col("label") == "min").collect()
        )

    a = synth_vals(
        aug.smote_oversample(
            df, "label", "min", 60, ["value"], seed=7, max_minority_rows=20
        )
    )
    b = synth_vals(
        aug.smote_oversample(
            df, "label", "min", 60, ["value"], seed=7, max_minority_rows=10_000
        )
    )
    assert a == b and len(a) == 60  # (1) cap-invariant under the cap
    assert a == synth_vals(
        aug.smote_oversample(
            df, "label", "min", 60, ["value"], seed=7, max_minority_rows=20
        )
    )  # (4) deterministic replay
    with pytest.raises(ValueError, match="max_minority_rows"):
        aug.smote_oversample(
            df, "label", "min", 60, ["value"], seed=7, max_minority_rows=8
        )  # (2) loud, not OOM
    with pytest.raises(ValueError, match="on_overflow"):
        aug.smote_oversample(
            df, "label", "min", 60, ["value"], on_overflow="warn"
        )
    sampled = synth_vals(
        aug.smote_oversample(
            df, "label", "min", 60, ["value"], seed=7,
            max_minority_rows=8, on_overflow="sample",
        )
    )  # (3) capped base, full top-up
    assert len(sampled) == 60
    assert all(0.0 <= v <= 190.0 for v in sampled)


def test_mllib_pipeline_parity(telemetry):
    from dataquality_ml_spark.ml.mllib_pipeline import build_feature_pipeline

    pipe = build_feature_pipeline(telemetry, label_col="failure", assembler_invalid="keep")
    fitted = pipe.fit(telemetry.where(F.col("failure") == 0))
    out = fitted.transform(telemetry)
    assert "features" in out.columns
    assert out.count() == 5
    skip_pipe = build_feature_pipeline(
        telemetry, label_col="failure", assembler_invalid="skip", strategy="median", in_place_impute=False
    )
    # imputation fills nulls before assembly, so "skip" only drops rows
    # whose *categorical index* or bool inputs are invalid — none here
    assert skip_pipe.fit(telemetry).transform(telemetry).count() == 5


def test_apply_features_high_cardinality_broadcast(spark):
    """10k-category column: the CASE path can't codegen this (JVM 64KB
    method limit); the broadcast-join path must produce the same indices
    the CASE expression gives at low cardinality."""
    n = 10_000
    df = spark.createDataFrame(
        [(i, f"cat_{i:05d}", float(i % 7)) for i in range(n)],
        "row_id bigint, category string, x double",
    )
    model = feat.fit_features(
        df, roles={"numeric": ["x"], "categorical": ["category"], "boolean": []},
        label_col=None,
    )
    assert len(model.categories["category"]) == n
    out = feat.apply_features(df, model, mode="keep")
    assert out.count() == n
    # every category occurs once -> frequency ties broken by value, so
    # index = lexicographic rank; cat_00000 -> 0, cat_00042 -> 42
    got = {
        r["category"]: r["category_idx"]
        for r in out.where(F.col("row_id").isin(0, 42, 9999)).collect()
    }
    assert got["cat_00000"] == 0.0
    assert got["cat_00042"] == 42.0
    assert got["cat_09999"] == 9999.0
    # unseen value -> keep bucket = n
    unseen = spark.createDataFrame(
        [(0, "never_seen", 1.0)], "row_id bigint, category string, x double"
    )
    assert feat.apply_features(unseen, model).first()["category_idx"] == float(n)
    # null key must also land in the keep bucket (left join no-match)
    nullrow = spark.createDataFrame(
        [(0, None, 1.0)], "row_id bigint, category string, x double"
    )
    assert feat.apply_features(nullrow, model).first()["category_idx"] == float(n)


def test_fit_features_single_stacked_cat_job(telemetry):
    """Multi-categorical fit uses ONE stacked groupBy (not per-column jobs)
    and preserves frequency-desc, tie-by-value order per column."""
    df = telemetry.withColumn("dc", F.substring("serial", 1, 1))
    model = feat.fit_features(
        df,
        roles={"numeric": [], "categorical": ["model", "dc"], "boolean": []},
        label_col="failure",
    )
    assert model.categories["model"] == ["m1", "m2", "m3"]
    assert model.categories["dc"] == ["a", "b", "c", "d", "e"]


def test_iforest_stability_search_matches_numpy_recomputation(spark):
    """VERDICT r3 item 5: the grid sweep ranks parameter sets by the
    reference's stability score 1/(1 + std/(mean+1e-8) + range/(mean+1e-8))
    over normal-sample anomaly scores (IsolationForest_AE_enhanced.py:
    108-121); the chosen params must equal an independent numpy
    recomputation over the same grid, first-wins on ties."""
    import numpy as np

    from dataquality_ml_spark.ml.augment import (
        iforest_stability_search,
        stability_score,
    )
    from dataquality_ml_spark.ml.detectors import IsolationForest

    rng = np.random.default_rng(19)
    x = rng.normal(0, 1, size=(300, 4))
    grid = [
        {"n_estimators": 20, "max_samples": 32},
        {"n_estimators": 20, "max_samples": 64, "contamination": 1e-4},  # extra key ok
        {"n_estimators": 40, "max_samples": 32},
        {"n_estimators": 40, "max_samples": 64},
    ]
    best, best_score, results = iforest_stability_search(spark, x, grid, seed=7)

    # independent recomputation, including the scorer formula itself
    want = []
    for p in grid:
        s = (
            IsolationForest(p["n_estimators"], p["max_samples"], seed=7)
            .fit(x)
            .score_samples(x)
        )
        mean = s.mean()
        want.append(
            1.0 / (1.0 + s.std() / (mean + 1e-8) + (s.max() - s.min()) / (mean + 1e-8))
        )
    assert [round(v, 12) for _, v in results] == [round(v, 12) for v in want]
    idx = int(np.argmax(want))  # argmax returns the FIRST max — same rule
    assert best == grid[idx]
    assert best_score == want[idx]
    # sanity on the scorer helper itself: constant scores are maximally
    # stable (score → 1 as std, range → 0)
    assert stability_score(np.full(50, 0.4)) == pytest.approx(1.0, rel=1e-12)


def test_quality_classifier_separates_planted_junk(spark):
    """Self-distilled LR must rank clean prose above degenerate junk —
    the weak-label lifecycle end to end."""
    from dataquality_ml_spark.ml.mllib_pipeline import (
        fit_quality_classifier,
        score_quality,
    )

    clean = [
        (i, "the quick brown fox jumps over the lazy dog and runs far away today")
        for i in range(30)
    ]
    junk = [
        (100 + i, "!!! 123 456 789 000 111 ??? ### 999 888 777 !!!")
        for i in range(30)
    ]
    short = [(200 + i, "tiny") for i in range(10)]
    docs = spark.createDataFrame(
        clean + junk + short, "doc_id long, text string"
    )
    model = fit_quality_classifier(docs)
    scored = {r["doc_id"]: r for r in score_quality(docs, model).collect()}
    assert scored[0]["prob_hq"] > 0.5 and scored[0]["pred_hq"] == 1
    assert scored[100]["prob_hq"] < 0.5 and scored[100]["pred_hq"] == 0
    assert scored[0]["prob_hq"] > scored[100]["prob_hq"]


def test_explain_attributes_planted_feature(spark):
    """A spike planted in one feature must dominate that row's top
    contributions; clean rows keep small, spread-out contributions."""
    import numpy as np

    from dataquality_ml_spark.engine import DQEngine

    rng = np.random.default_rng(5)
    rows = [
        (i, float(a), float(b), float(c), 0)
        for i, (a, b, c) in enumerate(rng.normal(0, 1, size=(100, 3)))
    ]
    rows.append((900, 0.1, 30.0, -0.2, 0))  # spike in the second feature
    df = spark.createDataFrame(rows, "id bigint, f1 double, f2 double, f3 double, failure int")
    eng = DQEngine(spark)
    roles = {"numeric": ["f1", "f2", "f3"], "categorical": [], "boolean": []}
    fitted = eng.fit_detector(
        df.where("id < 900"), roles=roles, detector="pca", n_components=1
    )
    out = {r["id"]: r for r in eng.explain(df, fitted).collect()}
    spike = out[900]["top_features"]
    assert spike[0]["feature"] == "f2_scaled"
    assert spike[0]["contribution"] > spike[1]["contribution"]
    assert out[900]["is_anomaly"]


def test_explain_rejects_iforest(spark):
    import pytest as _pytest

    from dataquality_ml_spark.engine import DQEngine
    from dataquality_ml_spark.ml import detectors as det

    df = spark.createDataFrame(
        [(i, float(i), 0) for i in range(50)], "id bigint, f1 double, failure int"
    )
    eng = DQEngine(spark)
    fitted = eng.fit_detector(
        df, roles={"numeric": ["f1"], "categorical": [], "boolean": []},
        detector="iforest",
    )
    with _pytest.raises(TypeError, match="no per-feature"):
        det.explain_distributed(
            eng.score(df, fitted), fitted.model, ["f1"], 2
        ).collect()


def test_explain_supports_keras_dense_backend(spark):
    """explain_distributed accepts any scorer exposing
    feature_contributions — including the weights-only dense-AE adapter
    (fake-keras fallback path builds a PCA-equivalent)."""
    import numpy as np

    from dataquality_ml_spark.ml import detectors as det
    from dataquality_ml_spark.ml.keras_adapter import build_autoencoder

    rng = np.random.default_rng(11)
    x = rng.normal(size=(80, 3))
    model = build_autoencoder(x, n_components=1, backend="auto")
    assert hasattr(model, "feature_contributions")
    contrib = model.feature_contributions(x)
    assert contrib.shape == (80, 3)
    assert np.allclose(contrib.mean(axis=1), model.reconstruction_error(x))


def test_feature_model_memo_invalidates_on_data_change(spark, tmp_path):
    """The fitted-feature memo is keyed on (sf_dir, file fingerprint):
    rewriting the data in place must trigger a refit, not serve stale
    stats (ADVICE r5 low)."""
    import time

    from dataquality_ml_spark.queries import (
        _lineitem_features,
        clear_feature_model_memo,
    )

    def write(mult):
        rows = [
            (i, 1, "N", float(i * mult), 100.0 * i * mult, 0.04, 0.02)
            for i in range(1, 21)
        ]
        spark.createDataFrame(
            rows,
            "l_orderkey bigint, l_linenumber int, l_returnflag string, "
            "l_quantity double, l_extendedprice double, l_discount double, "
            "l_tax double",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{tmp_path}/lineitem.parquet"
        )

    clear_feature_model_memo()
    write(1)
    _, m1 = _lineitem_features(spark, str(tmp_path))
    _, m1b = _lineitem_features(spark, str(tmp_path))
    assert m1b is m1  # unchanged data → memo hit

    time.sleep(0.05)  # ensure mtime_ns moves even on coarse filesystems
    write(3)
    _, m2 = _lineitem_features(spark, str(tmp_path))
    assert m2 is not m1  # regenerated data → refit
    clear_feature_model_memo()


def test_partsupp_supplier_count_follows_rewritten_data(spark, tmp_path):
    """_partsupp's supplier-count memo is keyed on the supplier file's
    fingerprint: rewriting supplier.parquet with another row count under
    the same sf_dir spreads the derived suppkeys over the new count, and
    clear_feature_model_memo empties it and the isolation-forest memo."""
    import time

    from dataquality_ml_spark.queries import _IFOREST_MEMO, clear_feature_model_memo
    from dataquality_ml_spark.queries_ext import _PS_SUPP_COUNT_MEMO, _partsupp

    sf = str(tmp_path)
    spark.range(1, 13).select(F.col("id").alias("p_partkey")).coalesce(1).write.parquet(
        f"{sf}/part.parquet"
    )
    for n in (40, 7):
        spark.range(n).select(F.col("id").alias("s_suppkey")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{sf}/supplier.parquet")
        step = n // 4 + 1
        want = sorted((p, (p + i * step) % n) for p in range(1, 13) for i in range(4))
        got = _partsupp(spark, sf).select("ps_partkey", "ps_suppkey").collect()
        assert sorted(tuple(r) for r in got) == want
        time.sleep(0.05)  # ensure mtime_ns moves even on coarse filesystems

    _IFOREST_MEMO["stale"] = object()
    assert _PS_SUPP_COUNT_MEMO
    clear_feature_model_memo()
    assert not _IFOREST_MEMO and not _PS_SUPP_COUNT_MEMO


def test_fit_features_top_k_cut_only_over_the_cap(spark, monkeypatch):
    """Under max_categories the frequency collect is a plain grouped count
    (no salted top-k windows) and the categories equal a direct groupBy
    count's frequencyDesc order; over it, the top-k windows run."""
    rows = [(f"v{i % 7}", f"w{i % 3}") for i in range(50)] + [("v6", None)] * 4
    df = spark.createDataFrame(rows, "a string, b string")
    roles = {"numeric": [], "categorical": ["a", "b"], "boolean": []}
    plans: list[str] = []
    cls = type(df)
    collect = cls.collect

    def recording(self):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return collect(self)

    monkeypatch.setattr(cls, "collect", recording)
    model = feat.fit_features(df, roles=roles, label_col=None, max_categories=10)
    under = list(plans)
    plans.clear()
    feat.fit_features(df, roles=roles, label_col=None, max_categories=5, on_overflow="keep")
    over = list(plans)
    monkeypatch.undo()

    assert under and not any("Window" in p for p in under)
    assert any("Window" in p for p in over)
    for c in ("a", "b"):
        counts = df.where(F.col(c).isNotNull()).groupBy(c).count().collect()
        want = [r[c] for r in sorted(counts, key=lambda r: (-r["count"], r[c]))]
        assert model.categories[c] == want, c
    assert model.overflow == {}


def test_fit_features_max_categories_cap(spark, telemetry):
    """The max_categories guardrail (round 9 — the last unbounded driver
    collect reachable from a core reference operator): under the cap the
    top-k path is IDENTICAL to the uncapped fit; over it, 'error' raises
    a loud contract error and 'keep' indexes exactly the top-k by
    (freq desc, value asc) with overflow recorded and routed to the
    handleInvalid='keep' bucket at transform."""
    roles = {"numeric": [], "categorical": ["model"], "boolean": []}

    full = feat.fit_features(telemetry, roles=roles, max_categories=None)
    capped = feat.fit_features(telemetry, roles=roles, max_categories=3)
    assert capped.categories == full.categories
    assert capped.overflow == {}

    # 60 distinct serials with a planted frequency gradient
    rows = [(f"s{i:03d}",) for i in range(60) for _ in range(60 - i)]
    big = spark.createDataFrame(rows, "serial string")
    broles = {"numeric": [], "categorical": ["serial"], "boolean": []}

    with pytest.raises(ValueError, match="serial=60.*max_categories|max_categories=10"):
        feat.fit_features(big, roles=broles, label_col=None, max_categories=10)

    kept = feat.fit_features(
        big, roles=broles, label_col=None, max_categories=10, on_overflow="keep"
    )
    want_full = feat.fit_features(big, roles=broles, label_col=None, max_categories=None)
    assert kept.categories["serial"] == want_full.categories["serial"][:10]
    assert kept.overflow == {"serial": 60}
    # overflow values take the keep bucket = len(categories)
    out = feat.apply_features(big, kept, mode="keep")
    idx_of = {
        r["serial"]: r["serial_idx"]
        for r in out.select("serial", "serial_idx").distinct().collect()
    }
    assert idx_of["s000"] == 0.0  # most frequent
    assert idx_of["s059"] == 10.0  # overflowed → keep bucket
    # JSON artifact round-trips the new field
    again = feat.FeatureModel.from_json(kept.to_json())
    assert again.overflow == {"serial": 60}
    assert again.categories == kept.categories
    # round-10 ADVICE: a typo'd on_overflow must fail loudly at entry,
    # not silently behave like 'keep'
    with pytest.raises(ValueError, match="on_overflow"):
        feat.fit_features(
            big, roles=broles, label_col=None, max_categories=10,
            on_overflow="warn",
        )


def test_daily_job_passes_leave_no_cache_entries(spark, telemetry):
    """Two daily-job passes through the facade in one long-lived session:
    the same results, and no CacheManager entry left behind."""
    from dataquality_ml_spark.engine import DQEngine

    eng = DQEngine(spark)
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # other tests' cached frames are not ours
    train = telemetry.where(F.col("failure") == 0)
    passes = []
    for _ in range(2):
        eng.profile(telemetry).collect()
        numeric = eng.prune_columns(telemetry, ["smart_1", "smart_2", "smart_dead"])
        fitted = eng.fit_detector(
            telemetry,
            roles={"numeric": numeric, "categorical": ["model"], "boolean": []},
            detector="iforest",
        )
        drift = eng.feature_drift(train, telemetry, numeric).collect()
        scored = eng.score(telemetry, fitted)
        passes.append(
            (
                numeric,
                sorted(drift),
                eng.evaluate(scored).first(),
                eng.auc(scored).first(),
                eng.report(scored).collect(),
            )
        )
    assert passes[0] == passes[1]
    assert passes[0][0] == ["smart_1", "smart_2"]
    assert cache.isEmpty()
