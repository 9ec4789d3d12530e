"""Driver-side plan construction: the per-column operators build their
aggregations from SQL text (quoting of awkward column names, py4j round-trip
budget), the feature pipeline quotes awkward names too, the session turns off
per-call origin capture, and the dedup, text and similarity pipelines leave
no entries in the session's CacheManager."""

from __future__ import annotations

import math
import os
import subprocess
import sys

import numpy as np
import py4j.clientserver
import pyspark.errors.utils as origin_utils
import pytest

from dataquality_ml_spark.ml import features as feat
from dataquality_ml_spark.operators import profile as prof

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


@pytest.mark.parametrize("debugging", [True, False])
def test_profile_plan_py4j_budget(spark, monkeypatch, debugging):
    """Building profile()'s plan costs O(1) py4j round trips per column,
    whether or not PySpark captures per-call origins (plain sessions,
    like the driver contract's, keep it on)."""
    df = _telemetry_shaped(spark)
    monkeypatch.setattr(origin_utils, "_enable_debugging_cache", debugging)
    calls = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    out = prof.profile(df)
    monkeypatch.undo()
    assert calls[0] > 0  # the counter sees the gateway's traffic
    assert calls[0] <= 1000, calls[0]
    assert out.count() == 38


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
    both categorical encodings (when-chain, and the broadcast join above
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
