"""Direct calls of the corpus, audit and statistics operators the daily
job does not use: each returns its documented shape on a small frame."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F


def test_bpe_tokenizer_and_rule_loop(spark):
    from dataquality_ml_spark.operators.bpe import train_tokenizer
    from dataquality_ml_spark.operators.rules import (
        rules_from_suggestions,
        run_checks,
        suggest_rules,
    )

    docs = spark.createDataFrame(
        [(0, "low low lower"), (1, "low slow")], "doc_id bigint, text string"
    )
    tok = train_tokenizer(docs, num_merges=2)
    out = tok.tokenize(docs)
    assert out.count() == 2 and "token_ids" in out.columns

    ev = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i)) for i in range(50)],
        "id bigint, kind string, v double",
    )
    sug = suggest_rules(ev, ["kind", "v"])
    rep = {
        r["rule"]: r["n_violations"]
        for r in run_checks(ev, rules_from_suggestions(sug)).collect()
    }
    assert rep["not_null(kind)"] == 0


def test_unigram_tokenizer_and_host_curation(spark):
    from dataquality_ml_spark.operators.unigram import train_unigram_tokenizer
    from dataquality_ml_spark.operators.web import host_curation_report

    docs = spark.createDataFrame(
        [(1, "hash hash table", "https://a.example.com/1"),
         (2, "tab hash rows", "https://a.example.com/2"),
         (3, "join scan", "https://b.example.com/1")],
        "doc_id bigint, text string, url string",
    )
    tok = train_unigram_tokenizer(docs, vocab_size=16)
    ids = {r["doc_id"]: r["n_ids"] for r in tok.tokenize(docs).collect()}
    assert set(ids) == {1, 2, 3} and all(v > 0 for v in ids.values())

    rep = {
        r["host"]: r
        for r in host_curation_report(
            docs, blocklist=["b.example.com"], cap=1
        ).collect()
    }
    assert rep["a.example.com"]["n_docs"] == 2 and rep["a.example.com"]["n_kept"] == 1
    assert rep["b.example.com"]["blocked"] == 1 and rep["b.example.com"]["n_kept"] == 0


def test_audit_and_repair_operators(spark):
    """Benford digits, feature IV, drift repair via quantile mapping and
    the Kaplan-Meier survival curve."""
    from dataquality_ml_spark.ml.features import quantile_map
    from dataquality_ml_spark.operators.evaluate import woe_iv
    from dataquality_ml_spark.operators.profile import benford_check
    from dataquality_ml_spark.operators.sequences import survival_km

    money = spark.range(1, 400).select((F.col("id") * 13.7).alias("v"))
    ben = benford_check(money, "v").collect()
    assert {r["digit"] for r in ben} <= set(range(1, 10))
    assert all(r["chi2_total"] is not None for r in ben)

    labeled = spark.range(400).select(
        (F.col("id") % 10).cast("double").alias("x"),
        (F.col("id") % 2 == 0).alias("y"),
    )
    iv = woe_iv(labeled, "x", "y", lo=0.0, hi=10.0, bins=5).collect()
    assert len(iv) == 5 and all(r["iv_total"] is not None for r in iv)

    ref = spark.range(500).select((F.col("id") / 5.0).alias("v"))
    cur = spark.range(300).select((F.col("id") / 5.0 + 1000.0).alias("v"))
    ms = [r["mapped"] for r in quantile_map(cur, "v", ref).orderBy("value").collect()]
    assert ms == sorted(ms) and 0 <= ms[0] <= ms[-1] <= 100.0

    surv = survival_km(
        spark.createDataFrame([(1.0, 1), (2.0, 0), (3.0, 1)], "d double, e int"),
        "d", "e",
    ).orderBy("t").collect()
    assert [r["n_at_risk"] for r in surv] == [3, 2, 1]
    assert surv[-1]["survival"] == 0.0


def test_tail_concentration_trend_and_sample_statistics(spark):
    """tail index, Gini, CUSUM changepoint, Theil-Sen trend, Chao1 and
    Kish ESS return their documented one-row / per-bucket shapes."""
    from dataquality_ml_spark.operators.dedup import chao1_duplicate_richness
    from dataquality_ml_spark.operators.drift import cusum_changepoint, theil_sen_trend
    from dataquality_ml_spark.operators.profile import gini_coefficient, hill_tail_index
    from dataquality_ml_spark.operators.selection import importance_weight_ess

    vals = spark.range(1, 1001).select(
        F.col("id").alias("i"), F.pow(F.col("id") / 1001.0, -0.5).alias("v")
    )
    t = hill_tail_index(vals, "v", k=50, id_col="i").first()
    assert t["k_used"] == 50 and t["hill_alpha"] > 0
    g = gini_coefficient(vals, "v", id_col="i").first()
    assert 0.0 < g["gini"] < 1.0 and g["n"] == 1000
    ev = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d), float(d >= 5))
         for d in range(10)],
        "ts timestamp, v double",
    )
    cp = cusum_changepoint(ev, "ts", "v").where("is_changepoint = 1").collect()
    assert len(cp) == 1
    tr = theil_sen_trend(
        spark.createDataFrame(
            [(float(i), 2.0 * i) for i in range(10)], "x double, y double"
        ),
        "x",
        "y",
    ).first()
    assert tr["slope"] == pytest.approx(2.0)
    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a b"), (2, "c d")], "doc_id long, text string"
    )
    r = chao1_duplicate_richness(docs).first()
    assert (r["n_docs"], r["s_obs"], r["f1"], r["f2"]) == (3, 2, 1, 1)
    w = importance_weight_ess(
        spark.range(10).select(F.lit(1.0).alias("w")), "w"
    ).first()
    assert w["ess"] == pytest.approx(10.0)


def test_prefix_filter_graph_charts_and_test_panels(spark):
    """Prefix-filter near-dup pairs, label propagation, EWMA and ACF
    charts, ANOVA / Kruskal-Wallis, BH q-values, the Good-Turing panel
    and NDCG/MRR return the documented shapes."""
    from dataquality_ml_spark.operators.dedup import prefix_filter_jaccard_pairs
    from dataquality_ml_spark.operators.drift import acf_ljung_box, ewma_control
    from dataquality_ml_spark.operators.evaluate import (
        anova_oneway,
        fdr_bh,
        kruskal_wallis,
    )
    from dataquality_ml_spark.operators.graph import label_propagation
    from dataquality_ml_spark.operators.similarity import ranking_quality
    from dataquality_ml_spark.operators.text import good_turing_panel

    base = "the quick brown fox jumps over the lazy dog again and then " * 3
    docs = spark.createDataFrame(
        [(1, base),
         (2, base.replace("lazy", "sleepy", 1)),
         (3, "completely different text about shuffle partitions here " * 3)],
        "doc_id long, text string",
    )
    pairs = prefix_filter_jaccard_pairs(docs, threshold=0.5)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(1, 2)}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5)], "id_a long, id_b long"
    )
    comm = {r.node: r.community for r in label_propagation(edges).collect()}
    assert comm[1] == comm[2] == comm[3] and comm[4] == comm[5]
    assert comm[1] != comm[4]
    series = spark.createDataFrame(
        [(i, 5.0 + (i % 3)) for i in range(30)], "b long, value double"
    )
    ew = ewma_control(series, "b")
    assert {"batch_id", "ewma", "lcl", "ucl", "ooc"} <= set(ew.columns)
    assert acf_ljung_box(series, "b", max_lag=3).count() == 3
    groups = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0), ("b", 6.0)],
        "k string, value double",
    )
    assert anova_oneway(groups, "k").first()["n_groups"] == 2
    assert kruskal_wallis(groups, "k").first()["n_groups"] == 2
    panel = spark.createDataFrame(
        [("t1", 0.01), ("t2", 0.5)], "t string, p_value double"
    )
    q = {r.t: r.q_value for r in fdr_bh(panel).collect()}
    assert q["t1"] == pytest.approx(0.02) and q["t2"] == pytest.approx(0.5)
    gt = good_turing_panel(docs, max_r=10)
    assert {"r", "n_r", "r_star", "token_share"} <= set(gt.columns)
    ranked = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, neighbor_id long, rank int"
    )
    rq = ranking_quality(ranked, ranked, k=2).first()
    assert rq["ndcg"] == pytest.approx(1.0) and rq["mrr"] == 1.0
