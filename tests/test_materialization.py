"""One materialization idiom: the catalog faces and the JSON quarantine
reader leave no CacheManager entry behind, ``relational.materialize``
checkpoints only what is not materialized yet, ``ensure_parallelism``
reads the partition count of a scan or a checkpoint without a Spark job,
and the reader's best-effort footer probe logs its fallback."""

from __future__ import annotations

import logging

from pyspark.sql import functions as F

from dataquality_ml_spark.operators import similarity as sim
from tests.test_column_stats import _jobs

# the catalog faces that materialize an intermediate relation
FACES = [
    "mae_baseline_anomalies",
    "pca_ae_anomalies",
    "iforest_anomalies",
    "sequence_anomaly_report",
    "seq_pca_anomalies",
    "corpus_curation_pipeline",
    "grid_density_clusters",
    "q15_top_supplier",
]


def test_catalog_faces_and_json_quarantine_leave_no_cache_entries(spark, sf_dir, tmp_path):
    from dataquality_ml_spark import queries as q
    from dataquality_ml_spark.sources.readers import read_json_with_quarantine

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # other tests' cached frames are not ours
    q.clear_feature_model_memo()  # take iforest_anomalies' fit path, its second consumer
    faces = q.queries()
    for name in FACES:
        assert faces[name](spark, sf_dir).collect(), name

    p = tmp_path / "in.json"
    p.write_text('{"id": 1, "v": 2.5}\nnot json\n{"id": 3, "v": 9.0}\n')
    good, bad = read_json_with_quarantine(spark, str(p), "id long, v double")
    # the corrupt-record column alone first: the query Spark refuses on a raw scan
    assert [r["raw_record"] for r in bad.collect()] == ["not json"]
    assert sorted(r["id"] for r in good.collect()) == [1, 3]
    assert cache.isEmpty()


def test_ranking_quality_skips_materialized_inputs(spark):
    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1), (2, 21, 2)],
        "query_id bigint, neighbor_id bigint, rank int",
    )
    approx = spark.createDataFrame(
        [(1, 11, 1), (1, 10, 2), (2, 20, 1), (2, 22, 2)],
        "query_id bigint, neighbor_id bigint, rank int",
    )
    built = []
    assert _jobs(spark, lambda: built.append(sim.ranking_quality(exact, approx, 2))) == 0
    derived = exact.where(F.col("rank") > 0)
    assert _jobs(spark, lambda: built.append(sim.ranking_quality(derived, approx, 2))) == 1
    local, checkpointed = (sorted(df.collect()) for df in built)
    assert local == checkpointed
    assert [r["query_id"] for r in local] == [1, 2]
    assert local[1]["mrr"] == 1.0 and local[0]["mrr"] == 0.5


def test_ensure_parallelism_runs_no_job_on_a_scan_or_checkpoint(spark, tmp_path):
    """Reading the partition count of a scan or a checkpoint launches no
    Spark job; on a relation with an exchange, adaptive execution runs its
    shuffle stages first, the cost the docstring warns about."""
    from dataquality_ml_spark.operators.relational import ensure_parallelism

    path = str(tmp_path / "scan.parquet")
    spark.range(64, numPartitions=4).selectExpr("id", "id % 5 AS g").write.parquet(path)
    scan = spark.read.parquet(path)
    checkpoint = scan.groupBy("g").count().localCheckpoint(eager=True)
    shuffled = scan.groupBy("g").count()
    assert _jobs(spark, lambda: ensure_parallelism(scan)) == 0
    assert _jobs(spark, lambda: ensure_parallelism(checkpoint)) == 0
    assert _jobs(spark, lambda: ensure_parallelism(shuffled)) >= 1


def test_nanos_probe_fallback_warns(spark, sf_dir, caplog, monkeypatch):
    import pyarrow.dataset as ds

    from dataquality_ml_spark.sources import readers

    def unreadable(*args, **kwargs):
        raise OSError("unreadable footer")

    monkeypatch.setattr(ds, "dataset", unreadable)
    path = f"{sf_dir}/region.parquet"
    with caplog.at_level(logging.WARNING, logger=readers.__name__):
        assert readers._nanos_ts_columns(path) == []
    warned = [r for r in caplog.records if r.name == readers.__name__]
    assert len(warned) == 1
    assert "_nanos_ts_columns" in warned[0].getMessage() and path in warned[0].getMessage()
