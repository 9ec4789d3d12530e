"""Operator-level behavior tests (beyond the oracle parity harness)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataquality_ml_spark.operators import dedup as dd
from dataquality_ml_spark.operators import relational as rel
from dataquality_ml_spark.operators import sequences as seq
from dataquality_ml_spark.sources.readers import read_parquet


def test_near_dup_methods_agree(spark, oracle_sf_dir):
    """MinHash-LSH, inverted-index Jaccard, and SimHash should all find the
    planted near-duplicate pairs (Jaccard ≈ 0.99 in the synthetic docs)."""
    docs = read_parquet(spark, f"{oracle_sf_dir}/documents.parquet")
    mh = {(r.id_a, r.id_b) for r in dd.minhash_dedup_pairs(docs, threshold=0.8).collect()}
    ng = {(r.id_a, r.id_b) for r in dd.ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    sh = {(r.id_a, r.id_b) for r in dd.simhash_dup_pairs(docs).collect()}
    assert ng, "no near-dup pairs found — planted dups missed"
    # MinHash with 16 perms / 4x4 bands has near-1 recall at jaccard 0.99
    assert mh == ng
    assert sh <= ng  # simhash(Hamming 0) is the strictest
    assert sh, "simhash found nothing"


def test_sequences_shape(spark, sf_dir):
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    s = seq.sequences(ev, "user_id", "ts", ["value"], n=5, tiebreak="event_id")
    row = s.select(F.size("sequence").alias("n")).distinct().collect()
    assert [r.n for r in row] == [5]
    # every user with >= 5 events contributes (count - 4) windows
    per_user = ev.groupBy("user_id").count().where(F.col("count") >= 5)
    expected = per_user.agg(F.sum(F.col("count") - 4)).first()[0]
    assert s.count() == expected


def test_sample_fraction_seeded(spark, sf_dir):
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    a = rel.sample_fraction(ev, 0.1, seed=7).count()
    b = rel.sample_fraction(ev, 0.1, seed=7).count()
    assert a == b  # deterministic under a fixed seed
    n = ev.count()
    assert 0.03 * n < a < 0.2 * n


def test_align_schema(spark, sf_dir):
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    ref = ev.select("event_id", "value", "event_type")
    moved = ev.select("event_type", (F.col("value") * 2).alias("extra"), "event_id")
    aligned = rel.align_schema(moved, ref)
    assert aligned.columns == ["event_id", "value", "event_type"]
    assert aligned.schema["value"].dataType == ref.schema["value"].dataType
    assert aligned.where(F.col("value").isNotNull()).count() == 0  # filled as nulls


def test_exact_quantiles_multi_matches_percentile(spark, sf_dir):
    import pytest

    from dataquality_ml_spark.operators.profile import exact_quantiles_multi

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    qs = [0.25, 0.5, 0.75, 0.9, 0.95]
    got = exact_quantiles_multi(li, cols, qs)
    q_sql = ", ".join(str(q) for q in qs)
    ref = li.agg(
        *[F.expr(f"percentile({c}, array({q_sql}))").alias(c) for c in cols]
    ).first()
    for c in cols:
        for i, q in enumerate(qs):
            assert got[c][q] == pytest.approx(ref[c][i], rel=0, abs=0), (c, q)


def test_exact_quantiles_select_per_group_matches_percentile(spark, sf_dir):
    import pytest

    from dataquality_ml_spark.operators.profile import exact_quantiles_select

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    qs = [0.5, 0.9]
    got = exact_quantiles_select(ev, "value", qs, group_by=["event_type"])
    ref = {
        r["event_type"]: r["p"]
        for r in ev.groupBy("event_type")
        .agg(F.expr("percentile(value, array(0.5, 0.9))").alias("p"))
        .collect()
    }
    assert len(got) == len(ref)
    for et, vals in ref.items():
        for i, q in enumerate(qs):
            assert got[(et,)][i] == pytest.approx(vals[i], rel=0, abs=0), (et, q)
